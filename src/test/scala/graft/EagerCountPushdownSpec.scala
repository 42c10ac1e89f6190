package graft

import org.apache.spark.sql.{DataFrame, functions => F}

/** The eager COUNT(*) pushdown rule (graft.optimizer.EagerCountPushdown):
  * fires only for inner equi-joins that will SHUFFLE the counted side,
  * and the rewritten plan returns exactly the unrewritten results —
  * including duplicate join keys on both sides, non-matching keys, the
  * empty global group, and counts nested in larger expressions. */
class EagerCountPushdownSpec extends SparkSpec {

  import spark.implicits._

  private def fact: DataFrame =
    Seq((1L, "x"), (1L, "y"), (2L, "z"), (2L, "w"), (2L, "v"), (4L, "q"))
      .toDF("fk", "payload")
  // duplicate dim keys on purpose: the join multiplies, the rewrite must too
  private def dim: DataFrame =
    Seq((1L, "a"), (2L, "b"), (2L, "b2"), (3L, "c")).toDF("k", "name")

  private def grouped(withHint: Boolean): DataFrame = {
    val d = if (withHint) dim.hint("shuffle_hash") else dim
    fact.join(d, F.col("fk") === F.col("k"))
      .groupBy("name").agg(F.count(F.lit(1)).as("cnt"))
  }

  private def firedIn(df: DataFrame): Boolean = {
    val s = df.queryExecution.optimizedPlan.toString
    s.contains("__graft_c0") || s.contains("__graft_a")
  }

  test("fires under a shuffle hint; results identical to the broadcast plan") {
    val rewritten = grouped(withHint = true)
    val baseline = grouped(withHint = false)
    assert(firedIn(rewritten), "expected the pushdown to fire under shuffle_hash")
    assert(!firedIn(baseline), "small dim should stay broadcast, no pushdown")
    val got = rewritten.orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
    val want = baseline.orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got === want)
    assert(got.toSeq === Seq(("a", 2L), ("b", 3L), ("b2", 3L)))
  }

  test("a keep-side SHUFFLE_MERGE hint arms the gate like SHUFFLE_HASH") {
    // grouped by the dim's name: dim is the kept side, fact is pushed
    val merged = fact.join(dim.hint("merge"), F.col("fk") === F.col("k"))
      .groupBy("name").agg(F.count(F.lit(1)).as("cnt"))
    assert(firedIn(merged), "expected the pushdown to fire under a merge hint")
    assert(merged.orderBy("name").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq === Seq(("a", 2L), ("b", 3L), ("b2", 3L)))
  }

  test("global count over an empty shuffled join is 0, not null") {
    // Range-backed fact so the no-match filter can't constant-fold the
    // side to an empty LocalRelation before the rule sees the join
    val noMatch = spark.range(6).select((F.col("id") + 100).as("fk"))
      .join(dim.hint("shuffle_hash"), F.col("fk") === F.col("k"))
      .agg(F.count(F.lit(1)).as("cnt"))
    assert(firedIn(noMatch))
    assert(noMatch.collect().map(_.getLong(0)).toSeq === Seq(0L))
  }

  test("count nested in an expression is rewritten consistently") {
    val df = fact.join(dim.hint("shuffle_hash"), F.col("fk") === F.col("k"))
      .groupBy("name").agg((F.count(F.lit(1)) * 10 + 1).as("c10"))
    assert(firedIn(df))
    assert(df.orderBy("name").collect().map(_.getLong(1)).toSeq ===
      Seq(21L, 31L, 31L))
  }

  test("does not fire for outer joins or non-decomposable aggregates") {
    val outer = fact.join(dim.hint("shuffle_hash"), F.col("fk") === F.col("k"),
      "left_outer").groupBy("name").agg(F.count(F.lit(1)).as("cnt"))
    assert(!firedIn(outer), "outer joins must not be rewritten")
    val avg = fact.withColumn("v", F.length(F.col("payload")))
      .join(dim.hint("shuffle_hash"), F.col("fk") === F.col("k"))
      .groupBy("name").agg(F.avg("v").as("a"))
    assert(!firedIn(avg), "AVG does not decompose and must block the rewrite")
    val distinctSum = fact.withColumn("v", F.length(F.col("payload")))
      .join(dim.hint("shuffle_hash"), F.col("fk") === F.col("k"))
      .groupBy("name").agg(F.sum_distinct(F.col("v")).as("s"))
    assert(!firedIn(distinctSum), "DISTINCT aggregates must block the rewrite")
  }

  test("SUM/MIN/MAX over the pushed side decompose; results exact under " +
    "duplicate keys and NULLs") {
    // v is NULL for one fk=2 row: per-key SUM/MIN/MAX must ignore it the
    // way the undecomposed aggregate ignores the raw NULL
    val f = Seq((1L, Some(10)), (1L, Some(3)), (2L, None), (2L, Some(7)),
      (2L, Some(5)), (4L, Some(100)))
      .toDF("fk", "v").select(F.col("fk"), F.col("v").cast("int").as("v"))
    def agg(withHint: Boolean): DataFrame = {
      val d = if (withHint) dim.hint("shuffle_hash") else dim
      f.join(d, F.col("fk") === F.col("k")).groupBy("name")
        .agg(F.sum("v").as("s"), F.min("v").as("mn"), F.max("v").as("mx"),
          F.count(F.lit(1)).as("cnt"))
    }
    val rewritten = agg(withHint = true)
    assert(firedIn(rewritten), "pushed SUM/MIN/MAX should fire")
    val got = rewritten.orderBy("name").collect().toSeq
    val want = agg(withHint = false).orderBy("name").collect().toSeq
    assert(!firedIn(agg(withHint = false)))
    assert(got === want)
    // dim key 2 appears twice: group b and b2 each see fk=2's rows once
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getInt(2),
      r.getInt(3), r.getLong(4))) ===
      Seq(("a", 13L, 3, 10, 2L), ("b", 12L, 5, 7, 3L), ("b2", 12L, 5, 7, 3L)))
  }

  test("all-NULL pushed key sums to NULL, not 0") {
    val f = Seq((1L, null.asInstanceOf[java.lang.Integer]),
      (1L, null.asInstanceOf[java.lang.Integer])).toDF("fk", "v")
    val df = f.join(dim.hint("shuffle_hash"), F.col("fk") === F.col("k"))
      .groupBy("name").agg(F.sum("v").as("s"))
    assert(firedIn(df))
    val rows = df.collect()
    assert(rows.length === 1 && rows(0).getString(0) === "a" && rows(0).isNullAt(1))
  }

  test("decimal SUM is not pushed, narrow or max-precision; results exact") {
    // decimal(12,2): SUM widens to (22,2) per level → excluded
    val narrow = Seq((1L, "1.50"), (2L, "2.25")).toDF("fk", "v")
      .select(F.col("fk"), F.col("v").cast("decimal(12,2)").as("v"))
    val nd = narrow.join(dim.hint("shuffle_hash"), F.col("fk") === F.col("k"))
      .groupBy("name").agg(F.sum("v").as("s"))
    assert(!firedIn(nd), "narrow decimal SUM must not decompose")
    // decimal(38,18) (the SPARQL engine's decimal lane): a per-key
    // partial could overflow (see the extreme-value case) → excluded
    def wide(withHint: Boolean): DataFrame = {
      val d = if (withHint) dim.hint("shuffle_hash") else dim
      Seq((1L, BigDecimal("1.50")), (1L, BigDecimal("2.25")),
        (2L, BigDecimal("7.00"))).toDF("fk", "v")
        .join(d, F.col("fk") === F.col("k"))
        .groupBy("name").agg(F.sum("v").as("s"))
    }
    val wd = wide(withHint = true)
    assert(!firedIn(wd), "decimal(38,18) SUM must not decompose")
    assert(wd.orderBy("name").collect().toSeq ===
      wide(withHint = false).orderBy("name").collect().toSeq)
  }

  test("an overflowing decimal(38,18) SUM matches the unpushed plan, " +
    "in legacy and ANSI mode") {
    // decimal(38,18) holds 20 integer digits: fk=1's two values overflow
    // a per-key partial, and with it the sum of the group they join
    val big = BigDecimal("60000000000000000000")
    def agg(): DataFrame = Seq((1L, big), (1L, big), (2L, BigDecimal(1)))
      .toDF("fk", "v")
      .join(Seq((1L, "g"), (2L, "g")).toDF("k", "name").hint("shuffle_hash"),
        F.col("fk") === F.col("k"))
      .groupBy("name").agg(F.sum("v").as("s"))
    // the rows, or "overflow" for an ANSI overflow error
    def outcome(): Either[String, Seq[org.apache.spark.sql.Row]] =
      try Right(agg().collect().toSeq) catch {
        case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).exists(c => String.valueOf(c.getMessage)
              .toLowerCase.matches("(?s).*(overflow|out_of_range).*")) =>
          Left("overflow")
      }
    val (ansiKey, pushKey) = ("spark.sql.ansi.enabled", "spark.graft.eagerCountPushdown")
    val before = spark.conf.get(ansiKey)
    for (ansi <- Seq(false, true)) {
      spark.conf.set(ansiKey, ansi.toString)
      try {
        val got = outcome()
        spark.conf.set(pushKey, "false")
        val want = try outcome() finally spark.conf.unset(pushKey)
        assert(got == want, s"ansi=$ansi")
        assert(want == (if (ansi) Left("overflow")
          else Right(Seq(org.apache.spark.sql.Row("g", null)))), s"ansi=$ansi")
      } finally spark.conf.set(ansiKey, before)
    }
  }

  test("MIN/MAX over the KEPT side pass through when a count pushes") {
    def agg(withHint: Boolean): DataFrame = {
      val d = if (withHint) dim.hint("shuffle_hash") else dim
      fact.join(d, F.col("fk") === F.col("k")).groupBy("name")
        .agg(F.count(F.lit(1)).as("cnt"), F.max("name").as("m"))
    }
    val rewritten = agg(withHint = true)
    assert(firedIn(rewritten),
      "a keep-side MAX must not block the count pushdown")
    assert(rewritten.orderBy("name").collect().toSeq ===
      agg(withHint = false).orderBy("name").collect().toSeq)
  }

  test("through a Project: entries feeding only pushed calls are dropped " +
    "(plan-change validation on)") {
    // the struct group key is read twice, so CollapseProject keeps the
    // Project under the aggregate; `a1` reads the fact's `amt`, which
    // the pushed per-key aggregate consumes
    val f = Seq((1L, 10), (1L, 3), (2L, 7), (2L, 5), (4L, 100))
      .toDF("fk", "amt")
    def agg(withHint: Boolean): DataFrame = {
      val d = if (withHint) dim.hint("shuffle_hash") else dim
      f.join(d, F.col("fk") === F.col("k"))
        .select(F.struct(F.col("name"), F.length(F.col("name"))).as("g"),
          (F.col("amt") + 1).as("a1"))
        .groupBy("g").agg(F.sum("a1").as("s"), F.count(F.lit(1)).as("cnt"))
        .select(F.col("g.name").as("name"), F.col("s"), F.col("cnt"))
    }
    // the rule's own output: plan-change validation does not flag a
    // Project that reads a column its child no longer produces, so the
    // check looks at every node's missing inputs directly
    val direct = graft.optimizer.EagerCountPushdown(
      org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint(
        agg(withHint = true).queryExecution.analyzed))
    assert(direct.toString.contains("__graft_a"), direct.toString)
    assert(direct.collect { case n if n.missingInput.nonEmpty => n }.isEmpty,
      s"the rewrite reads aggregated-away columns:\n$direct")
    val key = "spark.sql.planChangeValidation"
    val was = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val rewritten = agg(withHint = true)
      assert(firedIn(rewritten), "expected the pushdown to fire through the Project")
      val got = rewritten.orderBy("name").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got === Seq(("a", 15L, 2L), ("b", 14L, 2L), ("b2", 14L, 2L)))
      assert(got === agg(withHint = false).orderBy("name").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
    } finally was match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("keep-side-only MIN/MAX (nothing to push) does not fire") {
    val df = fact.join(dim.hint("shuffle_hash"), F.col("fk") === F.col("k"))
      .groupBy("name").agg(F.max("name").as("m"))
    assert(!firedIn(df),
      "with no pushed aggregate the rewrite gains nothing and must not fire")
  }

  test("autoBroadcastJoinThreshold=-1 arms the gate without hints") {
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = fact.join(dim, F.col("fk") === F.col("k"))
        .groupBy("name").agg(F.count(F.lit(1)).as("cnt"))
      assert(firedIn(df),
        "-1 disables broadcast, so every equi-join shuffles and the rule " +
          "must fire (ADVICE r17)")
      assert(df.orderBy("name").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("a", 2L), ("b", 3L), ("b2", 3L)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("group keys on the fact side flip the push to the dim side") {
    // grouping by a fact column forbids pre-aggregating the fact side,
    // but the DIM side still contributes only its join key, so the
    // widened rule pushes the per-key count THERE (r17 blocked this arm
    // because only the keep side's hint armed the gate)
    def agg(withHint: Boolean): DataFrame = {
      val d = if (withHint) dim.hint("shuffle_hash") else dim
      fact.join(d, F.col("fk") === F.col("k"))
        .groupBy("payload").agg(F.count(F.lit(1)).as("cnt"))
    }
    val rewritten = agg(withHint = true)
    assert(firedIn(rewritten), "expected the dim-side count push")
    assert(rewritten.orderBy("payload").collect().toSeq ===
      agg(withHint = false).orderBy("payload").collect().toSeq)
  }

  test("SPARQL grouped count through a forced-shuffle join stays exact") {
    // drive the engine path end-to-end with broadcast disabled so the
    // rule fires inside a compiled SPARQL plan (the q_path_seq shape)
    val ttl = new StringBuilder("@prefix : <http://e/> .\n")
    for (i <- 0 until 50; j <- 0 until (i % 3) + 1)
      ttl.append(s":l${i}_$j :ref :o${i % 7} .\n")
    for (i <- 0 until 7) ttl.append(s""":o$i :name "n${i % 2}" .\n""")
    val e = Engine.inline(ttl.toString)
    val q = """PREFIX : <http://e/>
      SELECT ?n (COUNT(*) AS ?c) { ?l :ref ?o . ?o :name ?n }
      GROUP BY ?n ORDER BY ?n"""
    val before = e.select(q).collect().map(r => (r.getString(0), r.getLong(1)))
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = e.select(q)
      assert(firedIn(df),
        "with broadcast disabled the compiled SPARQL count-over-join " +
          "must carry the pushed per-key count (ADVICE r17: this test " +
          "used to pass vacuously)")
      val after = df.collect().map(r => (r.getString(0), r.getLong(1)))
      assert(after === before)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }
}
