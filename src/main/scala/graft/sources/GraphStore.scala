package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.util.sketch.BloomFilter
import graft.GraftException
import graft.rdf.{RdfGraph, Terms}
import Sidecar.Json

/** Persistent RDF graph layout: parquet PARTITIONED BY PREDICATE — the
  * S2RDF vertical partitioning made physical (SURVEY.md §1.4). Writing
  * materializes one directory per predicate; loading rebuilds the
  * vertical index as partition-pruned scans, so a constant-predicate
  * triple pattern reads exactly one directory's row groups (the 100 TB
  * access path: predicate selectivity becomes file skipping, not a
  * filter over an exploded triple table).
  *
  * The prefix environment rides along as a JSON sidecar so a reloaded
  * graph keeps its QName display behavior. Two more sidecars serve the
  * continuous-ingest path: `_stats.json` (predicate cardinalities for
  * the BGP join-order heuristic) and a per-directory `_bloom.bin`
  * (membership filter over the directory's (s, o[, g]) hashes, so an
  * ingest micro-batch of mostly-new rows skips the store-side
  * anti-join read entirely — without it, every batch touching a
  * Zipf-hot predicate like rdf:type re-reads that predicate's full
  * multi-TB extension).
  *
  * SINGLE-WRITER CONTRACT: at most one writer — one ingest query, one
  * [[compact]], one appending [[save]] — may mutate a store at a time;
  * the bloom/append/stats durability order is per-writer and two
  * interleaved writers could re-append each other's in-flight rows. The
  * contract is guarded by a best-effort `_lock` sidecar: each writer
  * create-exclusively claims it for the duration of its mutation (an
  * ingest query claims per micro-batch — the actual mutation window)
  * and a second writer fails fast with a [[GraftException]] naming the
  * holder. A crash mid-mutation leaves the lock behind ON PURPOSE: the
  * store then refuses writes until an operator looks and reclaims with
  * [[breakLock]] (the crash-healing in [[healCompact]]/[[mergeBatch]]
  * makes the reclaim safe). Create-exclusive is atomic on HDFS and
  * local filesystems; on S3-like stores it is advisory only.
  */
object GraphStore {

  private val PRED_COL = "__pred"
  private val PREFIX_FILE = "_prefixes.json"
  private val STATS_FILE = "_stats.json"
  private val BLOOM_FILE = "_bloom.bin"
  private val LOCK_FILE = "_lock"
  /** Manifest inside a `.compact-tmp-*` directory naming the full-size
    * files [[compact]] carries across the swap BY RENAME (bin-packing):
    * healing restores exactly these names to wherever the originals
    * belong, which is what makes file-level carry crash-safe without a
    * transaction log. */
  private val CARRIED_FILE = "_carried.txt"
  private val BLOOM_FPP = 0.01
  /** Floor for a directory bloom's expected-item sizing (≈5 KB of
    * bits): below this the sidecar overhead dominates the filter. */
  private val BLOOM_MIN_EXPECTED = 4096L
  /** Ceiling (~38 MB of bits at 1% fpp): each merge reads and rewrites
    * the touched blooms, so sidecar size is per-batch cost and must not
    * track a hot directory's extension forever. Past the cap the bloom
    * saturates and its false-positive rate degrades GRADUALLY — extra
    * rows just take the anti-join path, where the subject-range
    * row-group pruning (sorted files) still bounds the read. */
  private val BLOOM_MAX_EXPECTED = 1L << 25

  private def bloomSize(rows: Long): Long =
    (2 * rows).max(BLOOM_MIN_EXPECTED).min(BLOOM_MAX_EXPECTED)

  /** Write the graph predicate-partitioned. One RANGE shuffle on
    * (predicate, subject): consecutive subjects of one predicate stay
    * together (so most write tasks emit into few predicate directories —
    * no sliver-file explosion), but a Zipf-hot predicate like `rdf:type`
    * (often 15–25% of a real graph) SPLITS across as many tasks as its
    * row share demands instead of hash-landing in one straggler task
    * writing one giant file. The within-partition sort on subject then
    * gives parquet row-group min/max stats that skip on subject lookups. */
  def save(g: RdfGraph, path: String, mode: String = "overwrite"): Unit =
    saveImpl(g, path, mode, crashBeforeSidecars = false)

  private def saveImpl(g: RdfGraph, path: String, mode: String,
      crashBeforeSidecars: Boolean): Unit = {
    // a QUAD store additionally partitions by graph (outermost): a
    // GRAPH <g> scan then prunes to one graph directory's predicate
    // subdirectories — graph selectivity becomes file skipping too
    val quads = g.isQuads
    val spark = g.triples.sparkSession
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val appending = mode.equalsIgnoreCase("append") &&
      storeLayout(spark, path).isDefined
    if (appending) acquireLock(fs, root, s"save(append) into $path")
    try {
      if (appending) {
        healCompact(spark, fs, root) // never append into a mid-swap dir
        // ADVICE r16: an append must not commit data whose hashes are
        // missing from existing blooms — a crash between the commit and
        // the rebuild would leave blooms that pass a later redelivery
        // as definitely-new, permanently duplicating rows. Deleting the
        // blooms FIRST degrades safely (absent bloom → anti-join path)
        // and the post-commit rebuild below restores them.
        deleteAllBlooms(fs, root)
      }
      val partCols =
        if (quads) Seq(Terms.GPART_COL, PRED_COL) else Seq(PRED_COL)
      val withParts0 = g.triples.withColumn(PRED_COL, F.col("p.value"))
      val withParts =
        if (quads) withParts0.withColumn(
          Terms.GPART_COL, Terms.gPartition(F.col("g")))
        else withParts0
      withParts
        .repartitionByRange(partCols.map(F.col) :+ F.col("s.value"): _*)
        .sortWithinPartitions(partCols.map(F.col) :+ F.col("s.value"): _*)
        .write.mode(mode).partitionBy(partCols: _*).parquet(path)
      if (crashBeforeSidecars) return // test seam: die after the commit
      Sidecar.save(spark, path, PREFIX_FILE, g.prefixes.toSeq.sortBy(_._1): _*)
      // per-DIRECTORY counts from parquet FOOTERS — zero data pages
      // (r16 ran a full groupBy-count read here, so a save cost one
      // write plus TWO reads of the just-written store): the counts
      // cover the committed files, so `mode=append` on an existing
      // store counts the union; the predicate-cardinality sidecar
      // feeds the BGP join-order heuristic without running any job at
      // `load`, and the same counts size the per-directory membership
      // blooms. The single remaining data read is the bloom build.
      val dirCounts = leafDirs(fs, root, quads)
        .map(d => d -> dirRowCount(fs, conf, new Path(root, d))).toMap
      Sidecar.save(spark, path, STATS_FILE,
        dirCounts.groupBy { case (d, _) => predOfKey(dirKey(d)) }
          .view.mapValues(_.values.sum).toSeq.sortBy(_._1): _*)
      val expected = dirCounts.map { case (d, n) =>
        dirKey(d) -> bloomSize(n)
      }
      val back = spark.read.parquet(path)
        .select(Seq("s", "p", "o") ++ (if (quads) Seq("g") else Nil)
          map F.col: _*)
      rebuildBlooms(spark, path, back, quads, expected)
    } finally if (appending) releaseLock(fs, root)
  }

  /** Every leaf partition directory of the store, store-relative.
    * Compaction markers (leading dot) and sidecars are excluded. */
  private def leafDirs(fs: FileSystem, root: Path,
      quads: Boolean): Seq[String] =
    if (!quads) fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(PRED_COL + "="))
    else fs.globStatus(new Path(root,
        s"${Terms.GPART_COL}=*/$PRED_COL=*")).toSeq
      .map(st => s"${st.getPath.getParent.getName}/${st.getPath.getName}")

  private def deleteAllBlooms(fs: FileSystem, root: Path): Unit =
    for (pat <- Seq(s"*/$BLOOM_FILE", s"*/*/$BLOOM_FILE");
         st <- fs.globStatus(new Path(root, pat)))
      fs.delete(st.getPath, false)

  /** Test seam: [[save]] `mode=append`, dying right after the parquet
    * commit — before the stats/bloom sidecar rebuild. Pins the ADVICE
    * r16 ordering: the touched blooms were deleted BEFORE the commit,
    * so a redelivery after this crash anti-joins instead of trusting a
    * bloom that never saw the appended rows. */
  private[graft] def appendCrashForTest(g: RdfGraph, path: String): Unit =
    saveImpl(g, path, "append", crashBeforeSidecars = true)

  /** Load a saved graph. The vertical index maps every predicate to a
    * partition-pruned (s, o) scan; the full triple view stays available
    * for var-predicate patterns.
    *
    * The index is LAZY: loading runs zero Spark jobs and materializes
    * zero per-predicate plans — a real graph has 10⁴–10⁵ predicates
    * (DBpedia: 60,649), and eagerly building one DataFrame per predicate
    * at load made `load` O(|predicates|) driver work before the first
    * query. Each predicate's pruned scan is built (and cached) on first
    * lookup instead. */
  def load(spark: SparkSession, path: String): RdfGraph = {
    // a query must never see a mid-swap directory (ADVICE r16): restore
    // anything a crashed compaction left half-moved before the reader
    // lists partitions. Best-effort — on a read-only filesystem there
    // is nothing to heal that this process could have broken.
    scala.util.Try {
      val root = new Path(path)
      healCompact(spark, root.getFileSystem(
        spark.sparkContext.hadoopConfiguration), root)
    }
    val df = spark.read.parquet(path)
    // a saved QUAD store keeps its graph column — dropping it here
    // would silently merge every named graph into the default graph
    // (the compiler bypasses the vertical index for quad stores, so
    // keeping `g` costs the index nothing). The `__g` PARTITION column
    // rides along too: the compiler mirrors its graph-scope conditions
    // onto it, so a GRAPH <g> scan prunes to one graph directory.
    val cols = Seq("s", "p", "o") ++
      (if (df.columns.contains("g")) Seq("g") else Nil) ++
      (if (df.columns.contains(Terms.GPART_COL)) Seq(Terms.GPART_COL)
       else Nil)
    RdfGraph(df.select(cols.map(F.col): _*),
      RdfGraph.defaultPrefixes ++ readMap(spark, path, PREFIX_FILE)(_.str(_)),
      predIndex = new LazyPredIndex(df),
      predCounts = readMap(spark, path, STATS_FILE)(_.long(_)))
  }

  /** Continuous N-Triples ingest INTO a persisted store: watches
    * `landingDir` for new .nt / .nt.gz files ([[NTriples.readStream]])
    * and per micro-batch appends the batch's NEW triples — batch-internal
    * dedup plus one anti-join against the current store, so re-delivered
    * lines keep set semantics — into the predicate-partitioned parquet
    * at `storePath`. The predicate-count sidecar is merged per batch, so
    * the BGP join-order heuristic keeps seeing fresh cardinalities.
    *
    * Trigger is AvailableNow: one call processes every file that has
    * landed and stops — with `checkpointDir` set, the next call resumes
    * AFTER the already-processed files, which is the cron-shaped
    * continuous-ingest loop (run it from a scheduler as often as data
    * lands). The merge itself is batch-idempotent: replaying a batch
    * adds nothing, so a retried micro-batch cannot duplicate triples —
    * the existence probe keys on committed PARTITION DATA, never on the
    * sidecars written after it, so the guarantee survives a crash
    * anywhere between the parquet commit and the sidecar writes.
    *
    * Scale: each touched directory's `_bloom.bin` membership filter
    * splits the batch BEFORE any store read — rows the bloom excludes
    * are definitely new and skip the anti-join; only the ~fpp false
    * positives (plus genuine redeliveries) probe the store, and only
    * THEIR directories are listed or scanned, filtered to the rows'
    * subject range so the subject-sorted files prune at the row-group
    * level. A steady stream of fresh data therefore merges without
    * reading the store at all — per-batch cost is flat in every
    * predicate's extension, including rdf:type-shaped hot ones.
    *
    * `sourceOptions` forwards Spark file-source knobs to the landing
    * directory reader: set `maxFilesPerTrigger` to bound one
    * micro-batch (bulk backfills otherwise arrive as ONE giant batch),
    * and `cleanSource=delete` (or `archive` + `sourceArchiveDir`) so
    * the landing directory — re-listed every trigger — doesn't grow
    * without bound across months of ticks.
    *
    * `compactWhenFilesExceed` makes the stream self-maintaining: after
    * each batch's merge, any directory the batch touched whose data
    * file count crossed the threshold is compacted in place (the
    * bin-packing [[compact]] path, under the batch's own `_lock`) —
    * without it, months of micro-batches leave thousands of sliver
    * files per hot directory and per-tick cost drifts upward until an
    * operator remembers to schedule [[compact]] (SOAK_r16: medians
    * 1.97→4.85 s over ~100 unmaintained ticks). */
  def startNtIngest(spark: SparkSession, landingDir: String,
      storePath: String, queryName: String, lenient: Boolean = false,
      checkpointDir: Option[String] = None,
      sourceOptions: Map[String, String] = Map.empty,
      compactWhenFilesExceed: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(
      NTriples.readStream(spark, landingDir, lenient, sourceOptions),
      queryName, checkpointDir)(
      mergeBatch(_, storePath, quads = false, queryName,
        compactWhenFilesExceed))

  /** Continuous N-Quads ingest into a persisted QUAD store — the
    * named-graph twin of [[startNtIngest]] ([[NQuads.readStream]] over
    * `landingDir`, merging into the `__g`-outer / `__pred`-inner
    * partition layout [[save]] writes). Same checkpoint/AvailableNow
    * contract, same batch-idempotent set semantics — the anti-join
    * treats the default graph (g NULL) as its own graph via null-safe
    * equality — and the probe prunes on BOTH partition levels: only
    * the exact (graph, predicate) directories with a possible
    * duplicate are read. */
  def startNqIngest(spark: SparkSession, landingDir: String,
      storePath: String, queryName: String, lenient: Boolean = false,
      checkpointDir: Option[String] = None,
      sourceOptions: Map[String, String] = Map.empty,
      compactWhenFilesExceed: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(
      NQuads.readStream(spark, landingDir, lenient, sourceOptions),
      queryName, checkpointDir)(
      mergeBatch(_, storePath, quads = true, queryName,
        compactWhenFilesExceed))

  private def startIngest(stream: DataFrame, queryName: String,
      checkpointDir: Option[String])(merge: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream
      .queryName(queryName)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => merge(batch) }
    checkpointDir.foreach(c => writer.option("checkpointLocation", c))
    writer.start()
  }

  /** The (s, o[, g]) membership hash a directory's bloom filter is
    * keyed on. The predicate is NOT hashed — the bloom is per
    * predicate directory, so it carries no information. */
  private def rowHash(quads: Boolean): Column =
    if (quads) F.xxhash64(F.col("s"), F.col("o"), F.col("g"))
    else F.xxhash64(F.col("s"), F.col("o"))

  /** The partition-directory key of a row: the predicate value, with
    * the graph-partition value prefixed (space-separated — a space can
    * appear in neither an IRI nor a blank-node label, so the split is
    * unambiguous) on quad stores. Computable both from raw batch rows
    * and from store rows read back (gPartition of a NULL g is the
    * default-graph bucket). */
  private def bloomKey(quads: Boolean): Column =
    if (quads) F.concat(Terms.gPartition(F.col("g")), F.lit(" "),
      F.col("p.value"))
    else F.col("p.value")

  private def predOfKey(key: String): String = {
    val i = key.indexOf(' ')
    if (i < 0) key else key.substring(i + 1)
  }

  /** Store-relative partition directory of a bloom key. */
  private def keyDir(key: String): String = {
    val i = key.indexOf(' ')
    if (i < 0) s"$PRED_COL=${escDir(key)}"
    else s"${Terms.GPART_COL}=${escDir(key.substring(0, i))}/" +
      s"$PRED_COL=${escDir(key.substring(i + 1))}"
  }

  /** Inverse of [[keyDir]] for a store-relative leaf directory. */
  private def dirKey(dir: String): String = {
    val parts = dir.split('/')
    val pred = unescDir(parts.last.stripPrefix(PRED_COL + "="))
    if (parts.length == 1) pred
    else unescDir(parts(0).stripPrefix(Terms.GPART_COL + "=")) +
      " " + pred
  }

  /** One micro-batch of the ingest merge, shared by the triples and
    * quad flavors. Order of durability (crash anywhere is safe):
    *   1. fresh-row hashes merge into the touched blooms and the
    *      sidecars are REWRITTEN — before the data lands, so a crash
    *      leaves phantom bloom entries (resolved by the anti-join on
    *      the replay) and never missing ones (which would let a
    *      redelivery re-append);
    *   2. the parquet append commits the fresh rows;
    *   3. [[finishMerge]] recomputes stats from parquet footers and
    *      builds/doubles any absent or saturated blooms from the
    *      committed data — so a replayed batch heals whatever a crash
    *      destroyed. */
  private def mergeBatch(batch0: DataFrame, path: String,
      quads: Boolean, queryName: String,
      compactWhenFilesExceed: Option[Int]): Unit = {
    val spark = batch0.sparkSession
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    // single-writer guard for the whole mutation window (see the object
    // scaladoc): held per micro-batch, so a crashed tick leaves the
    // lock exactly when it may have died mid-mutation
    acquireLock(fs, root, s"ingest query $queryName")
    try mergeBatchLocked(spark, batch0, path, root, conf, fs, quads,
      compactWhenFilesExceed)
    finally releaseLock(fs, root)
  }

  private def mergeBatchLocked(spark: SparkSession, batch0: DataFrame,
      path: String, root: Path, conf: Configuration, fs: FileSystem,
      quads: Boolean, compactWhenFilesExceed: Option[Int]): Unit = {
    requireLayout(spark, path, quads)
    val dedupCols = if (quads) Seq("s", "p", "o", "g") else Seq("s", "p", "o")
    // dedup within the batch, then pin it: several driver-side passes
    // (key collection, split, range bounds) read it below
    val batch = batch0.dropDuplicates(dedupCols).localCheckpoint(true)
    val keys = batch.select(bloomKey(quads).as("k")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (keys.isEmpty) return // empty batch: nothing to merge
    // a restarted ingest must never probe a directory a crashed
    // compaction left mid-swap — fs.exists would see no directory,
    // treat every row as new, and the next heal would then have two
    // generations to reconcile (ADVICE r16). Two exists calls per
    // touched key: per-batch cost stays flat in the store size.
    keys.foreach { k =>
      val leaf = new Path(root, keyDir(k))
      healOne(spark, fs, leaf.getParent, leaf.getName)
    }
    val existing = keys.filter(k => fs.exists(new Path(root, keyDir(k)))).toSet
    // the membership blooms of the touched directories that have one
    // (absent on a not-yet-migrated dir → every row of that key is a
    // possible duplicate, the pre-bloom behavior)
    val blooms: Map[String, (Long, BloomFilter)] = existing.iterator
      .flatMap(k => readBloom(spark, path, keyDir(k)).map(k -> _)).toMap
    val bloomsB = spark.sparkContext.broadcast(
      blooms.map { case (k, (_, b)) => k -> b })
    val existingB = spark.sparkContext.broadcast(existing)
    val hashed = batch.withColumn("__h", rowHash(quads))
    // the split: a row whose directory doesn't exist, or whose bloom
    // definitely excludes its hash, is NEW without any store read —
    // one codegen'd expression per row, not an interpreted UDF
    val mightExist = graft.expressions.ColumnBridge.column(
      graft.expressions.IngestBloomProbe(
        graft.expressions.ColumnBridge.expression(bloomKey(quads)),
        graft.expressions.ColumnBridge.expression(F.col("__h")),
        existingB, bloomsB))
    val maybe = hashed.where(mightExist)
    val defNew = hashed.where(!mightExist)
    // probe ONLY the directories with at least one maybe-duplicate row;
    // in the steady fresh-data state this set is empty and the store is
    // never listed, let alone read
    val maybeKeys = maybe.select(bloomKey(quads).as("k")).distinct()
      .collect().map(_.getString(0)).toSeq
    val survivors =
      if (maybeKeys.isEmpty) None
      else readDirs(spark, path, maybeKeys.map(keyDir)).map { probe0 =>
        // the maybe rows' subject range prunes the probe's row groups:
        // the directory files are subject-sorted, so min/max stats skip
        // everything outside the batch's subject window
        val rng = maybe
          .agg(F.min(F.col("s.value")), F.max(F.col("s.value"))).head()
        val probe = probe0
          .where(F.col("s.value").between(rng.getString(0), rng.getString(1)))
        if (quads)
          // g is NULL for the default graph: the join must treat NULL
          // as a key value (<=>), or every default-graph line re-appends
          maybe.as("b").join(probe.select("s", "p", "o", "g").as("st"),
            F.col("b.s") === F.col("st.s") &&
              F.col("b.p") === F.col("st.p") &&
              F.col("b.o") === F.col("st.o") &&
              F.col("b.g") <=> F.col("st.g"),
            "left_anti")
        else maybe.join(probe.select("s", "p", "o"),
          Seq("s", "p", "o"), "left_anti")
      }
    val fresh = (survivors match {
      case None => hashed // no possible duplicate anywhere: all new
      case Some(s) => defNew.unionByName(s)
    }).localCheckpoint(true) // bloom update + write + count read it
    if (fresh.count() > 0) {
      if (blooms.nonEmpty) {
        // durability step 1: fresh hashes into the existing blooms,
        // written BEFORE the parquet append (see the method scaladoc)
        val params = blooms.map { case (k, (e, _)) => k -> e }
        collectBlooms(
          fresh.where(bloomKey(quads).isInCollection(params.keys)),
          quads, params)
          .foreach { case (k, fb) =>
            val (e, b) = blooms(k)
            b.mergeInPlace(fb)
            writeBloom(spark, path, keyDir(k), e, b)
          }
      }
      val out = fresh.drop("__h").withColumn(PRED_COL, F.col("p.value"))
      if (quads)
        out.withColumn(Terms.GPART_COL, Terms.gPartition(F.col("g")))
          .write.mode("append")
          .partitionBy(Terms.GPART_COL, PRED_COL).parquet(path)
      else out.write.mode("append").partitionBy(PRED_COL).parquet(path)
    }
    finishMerge(spark, path, keys.map(predOfKey).distinct)
    // self-maintenance: bin-pack any touched directory whose sliver
    // count crossed the operator's threshold (runs under this batch's
    // lock; content and blooms are unchanged by construction, so the
    // stats just written stay exact)
    compactWhenFilesExceed.foreach { threshold =>
      for (k <- keys) {
        val leaf = new Path(root, keyDir(k))
        if (fs.exists(leaf) && dataFiles(fs, leaf).length > threshold)
          compactDir(spark, path, fs, conf, keyDir(k), quads,
            targetBytes = DEFAULT_TARGET_BYTES, minSmallFiles = 2)
      }
    }
  }

  /** Fail fast when the ingest flavor doesn't match the store's layout
    * (ADVICE r15: an N-Quads ingest into a triples-layout store found
    * none of its probed directories, treated every row as new, and
    * appended a second conflicting partition scheme that Spark's
    * partition discovery then chokes on — silent store corruption). */
  private def requireLayout(spark: SparkSession, path: String,
      quads: Boolean): Unit =
    storeLayout(spark, path).foreach { isQuads =>
      if (isQuads != quads) throw new GraftException(
        if (quads) s"startNqIngest into a triples-layout store at $path" +
          " — the store was written without named graphs; save it as a" +
          " quad store (a graph with a g column) first"
        else s"startNtIngest into a quad-layout store at $path" +
          " — use startNqIngest (N-Triples lines land in the default graph)")
    }

  /** Some(isQuads) when the store holds committed partition data, None
    * when it doesn't exist yet. Keyed on PARTITION DIRECTORIES, never
    * on the sidecars written after the data commit, so the answer is
    * crash-safe (see [[mergeBatch]]'s ordering note). */
  private def storeLayout(spark: SparkSession,
      path: String): Option[Boolean] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else {
      // a directory a crashed compaction left under a marker name still
      // witnesses the layout — without the strip, a store whose only
      // predicate directory is mid-swap would look empty and let a
      // mismatched ingest flavor through
      val names = fs.listStatus(root).map(st => stripMarker(st.getPath.getName))
      if (names.exists(_.startsWith(Terms.GPART_COL + "="))) Some(true)
      else if (names.exists(_.startsWith(PRED_COL + "="))) Some(false)
      else None
    }
  }

  private def stripMarker(name: String): String =
    name.stripPrefix(".compact-old-").stripPrefix(".compact-tmp-")

  /** Read exactly `dirs` (store-relative partition directories),
    * skipping ones that don't exist. `basePath` keeps the partition
    * columns, so per-batch cost — including the FILE LISTING, which
    * `read.parquet(root)` pays over the whole store even when the scan
    * prunes — stays proportional to the directories named. */
  private def readDirs(spark: SparkSession, path: String,
      dirs: Seq[String]): Option[DataFrame] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing = dirs
      .map(d => new Path(root, d))
      .filter(fs.exists(_))
      .map(_.toString)
    if (existing.isEmpty) None
    else Some(spark.read.option("basePath", path).parquet(existing: _*))
  }

  /** Spark's partition-directory name escaping (the inverse of what
    * `partitionBy` writes — `urn:p/x` → `urn%3Ap%2Fx`). */
  private def escDir(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v)

  private def unescDir(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(v)

  /** Post-append sidecar maintenance, shared by both merge paths. The
    * stats for the touched predicates are recomputed FROM THE STORE —
    * from parquet FOOTER row counts (one listing plus one footer read
    * per file, zero data pages: the layout guarantees the partition
    * value is constant per directory, so footer sums are exact) —
    * never merged incrementally from batch counts: a replayed batch
    * then heals a sidecar a crash left stale instead of undercounting
    * it forever. Blooms with no sidecar (pre-bloom stores, deleted
    * files) or more rows than their sizing are (re)built from the
    * committed data here, doubling their capacity. */
  private def finishMerge(spark: SparkSession, path: String,
      preds: Seq[String]): Unit = {
    val quads = storeLayout(spark, path) match {
      case None => return // batch empty, no store yet
      case Some(q) => q
    }
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    // every leaf directory of a touched predicate — on a quad store a
    // predicate's count spans all its graph directories, so the stats
    // glob is per predicate even though the batch touched exact pairs
    val dirs: Seq[String] =
      if (!quads) preds.map(p => s"$PRED_COL=${escDir(p)}")
        .filter(d => fs.exists(new Path(root, d)))
      else preds.flatMap { p =>
        fs.globStatus(new Path(root,
            s"${Terms.GPART_COL}=*/$PRED_COL=${escDir(p)}"))
          .map(st => s"${st.getPath.getParent.getName}/${st.getPath.getName}")
      }
    val dirCounts: Map[String, Long] =
      dirs.map(d => d -> dirRowCount(fs, conf, new Path(root, d))).toMap
    val touched = dirCounts.groupBy { case (d, _) => predOfKey(dirKey(d)) }
      .view.mapValues(_.values.sum).toMap
    Sidecar.save(spark, path, STATS_FILE,
      (readMap(spark, path, STATS_FILE)(_.long(_)) ++ touched)
        .toSeq.sortBy(_._1): _*)
    // (re)build: absent bloom, or saturated AND still below the cap —
    // a capped bloom must never re-trigger a full-directory read every
    // batch; it stays capped and degrades gradually instead
    val rebuild = dirs.filter { d =>
      readBloomExpected(spark, path, d) match {
        case None => dirCounts(d) > 0
        case Some(e) => dirCounts(d) > e && e < BLOOM_MAX_EXPECTED
      }
    }
    if (rebuild.nonEmpty)
      readDirs(spark, path, rebuild).foreach { rows =>
        val expected = rebuild.map { d =>
          dirKey(d) -> bloomSize(dirCounts(d))
        }.toMap
        rebuildBlooms(spark, path, rows, quads, expected)
      }
    if (!fs.exists(new Path(root, PREFIX_FILE)))
      Sidecar.save(spark, path, PREFIX_FILE,
        RdfGraph.defaultPrefixes.toSeq.sortBy(_._1): _*)
  }

  /** The data files of one leaf directory (sidecars and markers have a
    * `_`/`.` prefix). */
  private def dataFiles(fs: FileSystem, dir: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Committed parquet part files are immutable (their unique names are
    * never rewritten in place), so a footer's record count is cacheable
    * by (path, length) for the file's lifetime. Without the cache every
    * ingest tick re-opened EVERY touched-directory file's footer
    * sequentially on the driver — the O(files) component SOAK_r16
    * showed drifting per-tick medians 1.97→4.85 s as the hot directory
    * grew between compactions. With it, a tick reads footers only for
    * the files it just wrote. LRU-capped: ~2^20 entries bounds driver
    * memory at tens of MB; eviction only costs a re-read. */
  private val footerCountCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long), java.lang.Long](
          1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long), java.lang.Long])
            : Boolean = size() > (1 << 20)
      })

  private def fileRowCount(conf: Configuration,
      st: org.apache.hadoop.fs.FileStatus): Long = {
    val key = (st.getPath.toString, st.getLen)
    val cached = footerCountCache.get(key)
    if (cached != null) cached.longValue()
    else {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf))
      val n = try r.getRecordCount finally r.close()
      footerCountCache.put(key, n)
      n
    }
  }

  /** Exact row count of one partition directory from parquet footers —
    * no data pages are read (r15 this was a full re-read of the touched
    * directories' DATA per batch, the stats step scaling with directory
    * size), and cached footers (see [[footerCountCache]]) make it
    * O(new files) per call. Uncached footers are read in parallel —
    * the per-file open is driver-side remote IO, not CPU. */
  private def dirRowCount(fs: FileSystem, conf: Configuration,
      dir: Path): Long = {
    import scala.collection.parallel.CollectionConverters._
    dataFiles(fs, dir).par.map(fileRowCount(conf, _)).sum
  }

  private val DEFAULT_TARGET_BYTES = 128L << 20

  /** Bin-pack each (graph,) predicate directory's accumulated sliver
    * files — continuous ingest appends a few files per micro-batch, so
    * a long-running stream leaves thousands — into `targetBytes`-sized
    * subject-sorted files. Contents are untouched (same rows; each
    * surviving file keeps an internal subject sort, so row-group
    * min/max stats keep skipping); only the file layout changes.
    *
    * INCREMENTAL: only files below `targetBytes / 2` are read and
    * rewritten; files already at target size are carried across the
    * swap BY RENAME, so a compaction cycle costs one read+write of the
    * SLIVER bytes, not the directory's full history — on a hot
    * directory holding terabytes of previously-compacted files plus a
    * month of slivers, the terabytes move as renames (r16 rewrote the
    * whole directory every cycle, forcing operators to choose between
    * sliver drift and repeated full rewrites). Per directory: read the
    * sub-target files → one range shuffle on subject into
    * ⌈sliverBytes/target⌉ partitions → write to a hidden temp
    * directory, record the carried full-size file names in a manifest
    * (`_carried.txt`), rename them in, copy the bloom sidecar (the row
    * set is identical, so it stays exact) → two renames swap the temp
    * in.
    *
    * Run it BETWEEN ingest ticks (AvailableNow returns between calls) —
    * or let the stream do it itself via `compactWhenFilesExceed` on
    * [[startNtIngest]]/[[startNqIngest]]; it never touches the stream's
    * checkpoint, so ingest resumes unaffected. Crash-safe: every
    * half-state is repaired by [[healCompact]]/[[healOne]], which runs
    * at the next [[compact]], [[load]], appending [[save]], and — for
    * the batch's own directories — every ingest micro-batch; the
    * carried-file manifest is what lets healing put renamed files back
    * without a transaction log. Takes the store `_lock` (see the object
    * scaladoc). Returns the number of directories rewritten.
    *
    * A directory with fewer than `minFiles` sub-target files is left
    * alone — merging one or two slivers is not worth a swap. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = DEFAULT_TARGET_BYTES, minFiles: Int = 4): Int = {
    val quads = storeLayout(spark, path) match {
      case None => return 0
      case Some(q) => q
    }
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    acquireLock(fs, root, "compact")
    try {
      healCompact(spark, fs, root)
      var done = 0
      for (rel <- leafDirs(fs, root, quads))
        if (compactDir(spark, path, fs, conf, rel, quads, targetBytes,
          minSmallFiles = minFiles)) done += 1
      done
    } finally releaseLock(fs, root)
  }

  /** One directory of [[compact]]'s loop; `crashAt` is the test seam
    * (0 = run to completion; 1 = die after the temp directory is fully
    * built, carried files already renamed in; 2 = die between the two
    * swap renames — the ADVICE r16 window). Returns whether the
    * directory was rewritten. */
  private def compactDir(spark: SparkSession, path: String,
      fs: FileSystem, conf: Configuration, rel: String, quads: Boolean,
      targetBytes: Long, minSmallFiles: Int, crashAt: Int = 0): Boolean = {
    val root = new Path(path)
    val dir = new Path(root, rel)
    val files = dataFiles(fs, dir)
    // bin-packing split: a file at half the target or more gains little
    // from merging (at most a 2× file-count reduction for a full
    // rewrite of its bytes) — carry it; everything smaller is a sliver
    val (big, small) = files.partition(_.getLen >= targetBytes / 2)
    val smallBytes = small.map(_.getLen).sum
    if (small.length < minSmallFiles || smallBytes == 0) return false
    val nParts =
      math.max(1L, (smallBytes + targetBytes - 1) / targetBytes).toInt
    val dataCols = Seq("s", "p", "o") ++ (if (quads) Seq("g") else Nil)
    val tmp = new Path(dir.getParent, ".compact-tmp-" + dir.getName)
    fs.delete(tmp, true) // stale temp from an older, already-healed crash
    spark.read.parquet(small.map(_.getPath.toString): _*)
      .select(dataCols.map(F.col): _*)
      .repartitionByRange(nParts, F.col("s.value"))
      .sortWithinPartitions(F.col("s.value"))
      .write.parquet(tmp.toString)
    if (big.nonEmpty) {
      // manifest FIRST, then the renames: healing restores exactly the
      // listed names that made it into tmp, wherever the crash hit
      Sidecar.write(conf, tmp.toString, CARRIED_FILE,
        big.map(_.getPath.getName).mkString("\n"))
      for (st <- big)
        if (!fs.rename(st.getPath, new Path(tmp, st.getPath.getName)))
          throw new GraftException(s"compact: carry rename failed for ${st.getPath}")
    }
    // the bloom sidecar describes the same row set: carry it over
    val bloom = new Path(dir, BLOOM_FILE)
    if (fs.exists(bloom))
      org.apache.hadoop.fs.FileUtil.copy(fs, bloom,
        fs, new Path(tmp, BLOOM_FILE), false, conf)
    if (crashAt == 1) return true
    val old = new Path(dir.getParent, ".compact-old-" + dir.getName)
    fs.delete(old, true)
    if (!fs.rename(dir, old))
      throw new GraftException(s"compact: atomic swap failed for $dir")
    if (crashAt == 2) return true
    if (!fs.rename(tmp, dir))
      throw new GraftException(s"compact: atomic swap failed for $dir")
    fs.delete(old, true)
    true
  }

  /** Test seam: run one directory's compaction but "crash" at `phase`
    * (see [[compactDir]]'s `crashAt`) — the store is left in exactly
    * the half-state a real crash leaves, including the carried-file
    * split, so specs can pin that healing loses nothing. The `_lock` a
    * real crash would also leave is deliberately NOT taken: the specs
    * exercise the post-`breakLock` repair path. */
  private[graft] def crashCompactForTest(spark: SparkSession,
      path: String, rel: String, phase: Int,
      targetBytes: Long = DEFAULT_TARGET_BYTES): Boolean = {
    val quads = storeLayout(spark, path).get
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    // every real compaction path heals before touching a directory
    // (compactDir's stale-tmp delete assumes it); the seam must too
    val leaf = new Path(root, rel)
    healOne(spark, fs, leaf.getParent, leaf.getName)
    compactDir(spark, path, fs, conf, rel, quads,
      targetBytes, minSmallFiles = 1, crashAt = phase)
  }

  /** Repair every directory a crashed [[compact]] left half-moved.
    * The marker pair distinguishes the states (ADVICE r16 — the old
    * heal deleted `.compact-old-X` whenever a live `X` existed, which
    * destroyed data if an interim writer had recreated `X` mid-swap):
    *
    *  - `.compact-old-X` AND `.compact-tmp-X`: the crash hit between
    *    the two swap renames — tmp only survives when the tmp→X rename
    *    never ran, so OLD (plus the carried files inside tmp) is the
    *    authoritative content and is NEVER deleted. Carried files are
    *    renamed back into old per tmp's manifest; if a live `X` exists
    *    (an interim writer recreated it), its rows are set-merged into
    *    old and old's bloom is dropped (absent degrades safe; rebuilt
    *    on the next touch); then old is renamed back to `X`.
    *  - `.compact-old-X` only, live `X` present: the swap completed
    *    (tmp became `X`) and only the cleanup was lost — old holds no
    *    unique data and is deleted.
    *  - `.compact-tmp-X` only: the crash hit before the swap began —
    *    `X` is intact except for carried files already renamed into
    *    tmp; those are restored per the manifest and tmp (whose merged
    *    files duplicate `X`'s slivers) is deleted. */
  private def healCompact(spark: SparkSession, fs: FileSystem,
      root: Path): Unit = {
    if (!fs.exists(root)) return
    val parents = root +: fs.listStatus(root)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(Terms.GPART_COL + "="))
      .map(_.getPath).toSeq
    for (parent <- parents; st <- fs.listStatus(parent)) {
      val n = st.getPath.getName
      if (n.startsWith(".compact-old-") || n.startsWith(".compact-tmp-"))
        healOne(spark, fs, parent, stripMarker(n))
    }
  }

  /** [[healCompact]] for one directory (idempotent; no-op when no
    * marker exists — two `exists` calls, which is why [[mergeBatch]]
    * can afford it per touched key per batch). */
  private def healOne(spark: SparkSession, fs: FileSystem,
      parent: Path, name: String): Unit = {
    val live = new Path(parent, name)
    val old = new Path(parent, ".compact-old-" + name)
    val tmp = new Path(parent, ".compact-tmp-" + name)
    val hasOld = fs.exists(old)
    val hasTmp = fs.exists(tmp)
    if (hasOld && hasTmp) {
      restoreCarried(fs, tmp, old)
      if (fs.exists(live)) {
        mergeInterimRows(spark, fs, live, old)
        // old's bloom predates the interim rows; absent is safe, stale
        // is not (a redelivery would pass as definitely-new). Deleted
        // BEFORE the interim dir: a crash between the two re-runs the
        // idempotent merge, whereas the reverse order could leave the
        // stale bloom behind with no interim dir to re-trigger it.
        fs.delete(new Path(old, BLOOM_FILE), false)
        fs.delete(live, true)
      }
      if (!fs.rename(old, live))
        throw new GraftException(s"heal: restore rename failed for $live")
      fs.delete(tmp, true)
    } else if (hasOld) {
      if (!fs.exists(live)) fs.rename(old, live) // defensive; see scaladoc
      else fs.delete(old, true) // swap completed, only cleanup was lost
    } else if (hasTmp) {
      restoreCarried(fs, tmp, live)
      fs.delete(tmp, true)
    }
  }

  /** Rename the files listed in `tmp`'s carried manifest back into
    * `dest` (skipping any already there — healing may have been
    * interrupted and re-run). */
  private def restoreCarried(fs: FileSystem, tmp: Path,
      dest: Path): Unit = {
    for (carried <- Sidecar.read(fs.getConf, tmp.toString, CARRIED_FILE);
         name <- carried.split('\n') if name.nonEmpty) {
      val src = new Path(tmp, name)
      if (fs.exists(src)) {
        if (!fs.exists(dest)) fs.mkdirs(dest)
        val d = new Path(dest, name)
        if (!fs.exists(d) && !fs.rename(src, d))
          throw new GraftException(s"heal: carried-file restore failed for $src")
      }
    }
  }

  /** Set-merge an interim writer's rows (a directory recreated while
    * the original sat mid-swap under `.compact-old-*`) into the
    * restored content: the interim writer saw no directory and no
    * bloom, so it appended EVERY row as new — some may duplicate rows
    * `dest` already holds. Heal-time only; cost is one read of both
    * generations plus a write of the genuinely fresh rows. */
  private def mergeInterimRows(spark: SparkSession, fs: FileSystem,
      interim: Path, dest: Path): Unit = {
    val interimFiles = dataFiles(fs, interim).map(_.getPath.toString)
    if (interimFiles.isEmpty) return
    val destFiles = dataFiles(fs, dest).map(_.getPath.toString)
    val in = spark.read.parquet(interimFiles: _*)
    // the store's canonical file column order, so the appended files
    // read uniformly with their siblings
    val cols = Seq("s", "p", "o") ++
      (if (in.columns.contains("g")) Seq("g") else Nil)
    val inC = in.select(cols.map(F.col): _*)
    val fresh =
      if (destFiles.isEmpty) inC
      else inC.except(
        spark.read.parquet(destFiles: _*).select(cols.map(F.col): _*))
    fresh.write.mode("append").parquet(dest.toString)
  }

  // ---- single-writer lock -----------------------------------------------

  /** Claim the store's `_lock` create-exclusively or fail loudly (see
    * the object scaladoc for the contract). The payload names the
    * holder and the acquisition time so the failure message — and an
    * operator deciding whether [[breakLock]] is safe — can tell a live
    * writer from a crashed one. */
  private def acquireLock(fs: FileSystem, root: Path,
      owner: String): Unit = {
    if (!fs.exists(root)) fs.mkdirs(root)
    val payload = Sidecar.encode("owner" -> owner,
      "acquired_ms" -> System.currentTimeMillis())
    try {
      // create-exclusive: the claim itself
      Sidecar.write(fs.getConf, root.toString, LOCK_FILE, payload,
        overwrite = false)
    } catch {
      case _: java.io.IOException =>
        val held = scala.util.Try(
          Sidecar.read(fs.getConf, root.toString, LOCK_FILE).get)
          .getOrElse("<unreadable>")
        throw new GraftException(
          s"graph store at $root is locked by another writer: $held — " +
            "the store has a single-writer contract (one ingest query, " +
            "compact, or appending save at a time); if the holder " +
            "crashed, inspect and reclaim with GraphStore.breakLock")
    }
  }

  private def releaseLock(fs: FileSystem, root: Path): Unit =
    fs.delete(new Path(root, LOCK_FILE), false)

  /** Reclaim a `_lock` a crashed writer left behind. Returns whether a
    * lock existed. Only break a lock whose holder is known dead — the
    * healing paths make the subsequent repair safe, but two LIVE
    * writers interleaving is exactly what the lock exists to prevent. */
  def breakLock(spark: SparkSession, path: String): Boolean = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, LOCK_FILE), false)
  }

  // ---- membership blooms ------------------------------------------------

  /** Build one bloom per (graph-partition,) predicate directory over
    * `rows` and overwrite those directories' `_bloom.bin` sidecars.
    * One distributed pass: per-partition partial blooms, merged by key
    * in a small shuffle, streamed to the driver one shuffle partition
    * at a time (`toLocalIterator`) — driver memory holds one
    * partition's blooms, not the store's predicate count. */
  private def rebuildBlooms(spark: SparkSession, path: String,
      rows: DataFrame, quads: Boolean,
      expected: Map[String, Long]): Unit = {
    partialBlooms(rows, quads, expected)
      .reduceByKey { (a, b) => a.mergeInPlace(b); a }
      .toLocalIterator
      .foreach { case (k, bloom) =>
        writeBloom(spark, path, keyDir(k),
          expected.getOrElse(k, BLOOM_MIN_EXPECTED), bloom)
      }
  }

  /** [[rebuildBlooms]]' small-result twin: collect the per-key blooms
    * (for merging fresh-batch hashes into existing sidecars — the key
    * set is the batch's touched directories, inherently small). */
  private def collectBlooms(rows: DataFrame, quads: Boolean,
      expected: Map[String, Long]): Map[String, BloomFilter] =
    partialBlooms(rows, quads, expected)
      .reduceByKey { (a, b) => a.mergeInPlace(b); a }
      .collect().toMap

  private def partialBlooms(rows: DataFrame, quads: Boolean,
      expected: Map[String, Long])
      : org.apache.spark.rdd.RDD[(String, BloomFilter)] = {
    val expB = rows.sparkSession.sparkContext.broadcast(expected)
    rows.select(bloomKey(quads).as("k"), rowHash(quads).as("h"))
      .rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap[String, BloomFilter]()
        it.foreach { r =>
          val k = r.getString(0)
          acc.getOrElseUpdate(k, BloomFilter.create(
            expB.value.getOrElse(k, BLOOM_MIN_EXPECTED), BLOOM_FPP))
            .putLong(r.getLong(1))
        }
        acc.iterator
      }
  }

  /** `_bloom.bin` layout: 8-byte big-endian expected-item sizing (the
    * `create` parameter — needed to build mergeable partials and to
    * detect saturation), then [[BloomFilter]]'s own stream format. */
  private def writeBloom(spark: SparkSession, path: String, dir: String,
      expected: Long, bloom: BloomFilter): Unit = {
    val p = new Path(path, dir + "/" + BLOOM_FILE)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try { out.writeLong(expected); bloom.writeTo(out) } finally out.close()
  }

  /** The sidecar's (expected, filter); None when absent or unreadable —
    * an unreadable bloom degrades to "every row might exist", never to
    * an error. */
  private def readBloom(spark: SparkSession, path: String,
      dir: String): Option[(Long, BloomFilter)] = {
    val p = new Path(path, dir + "/" + BLOOM_FILE)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      try (in.readLong(), BloomFilter.readFrom(in)) finally in.close()
    }.toOption
  }

  /** Just the sizing header (saturation check without deserializing
    * the bit array). */
  private def readBloomExpected(spark: SparkSession, path: String,
      dir: String): Option[Long] = {
    val p = new Path(path, dir + "/" + BLOOM_FILE)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else scala.util.Try {
      val in = fs.open(p)
      try in.readLong() finally in.close()
    }.toOption
  }

  /** On-demand vertical index over the predicate-partitioned layout.
    * `get` needs NO predicate listing: a lookup of a predicate with no
    * partition directory prunes to an empty scan, which IS that
    * predicate's (empty) extension — so every lookup is answerable
    * without a job, and `load` never runs the distinct the eager build
    * paid. Iteration (diagnostics/tests only) derives the key set from
    * the partition column — a listing-only scan, no row data. */
  private final class LazyPredIndex(df: DataFrame)
      extends scala.collection.immutable.Map[String, DataFrame] {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
    private def scan(p: String): DataFrame =
      cache.computeIfAbsent(p, p2 =>
        df.where(F.col(PRED_COL) === p2).select(F.col("s"), F.col("o")))

    override def get(p: String): Option[DataFrame] = Some(scan(p))
    /** Always true BY DESIGN, not an oversight: every predicate has a
      * (possibly empty) pruned extension, so membership never needs a
      * partition listing — see the class scaladoc. */
    override def contains(p: String): Boolean = true
    override def iterator: Iterator[(String, DataFrame)] =
      df.select(PRED_COL).distinct().collect().iterator
        .map { r => val p = r.getString(0); p -> scan(p) }
    override def removed(key: String): Map[String, DataFrame] =
      iterator.filter(_._1 != key).toMap
    override def updated[V1 >: DataFrame](key: String,
        value: V1): Map[String, V1] =
      iterator.toMap.updated(key, value)
  }

  /** A flat JSON map sidecar; empty for a store written before the
    * sidecar existed (without `_stats.json` the join-order heuristic
    * degrades to the static constant-shape score). */
  private def readMap[V](spark: SparkSession, path: String, name: String)(
      value: (JsonNode, String) => V): Map[String, V] =
    Sidecar.loadOpt(spark, path, name, "a graph store") { j =>
      j.keys.map(k => k -> value(j, k)).toMap
    }.getOrElse(Map.empty)

  /** Test seam: the store-side probe for one batch's touched directory
    * keys ((gpart SP) pred — see [[bloomKey]]); the specs pin that
    * only those directories are listed. */
  private[graft] def prunedProbe(spark: SparkSession, path: String,
      keys: Seq[String]): Option[DataFrame] =
    readDirs(spark, path, keys.map(keyDir))

  /** Test seam: merge `rows`' hashes into one directory's bloom
    * WITHOUT appending the rows — reproduces the exact state a crash
    * between the bloom write and the parquet append leaves behind, so
    * the spec can pin that phantom entries never lose data. */
  private[graft] def poisonBloomForTest(spark: SparkSession,
      path: String, dir: String, rows: DataFrame): Unit = {
    val (expected, bloom) = readBloom(spark, path, dir).get
    rows.select(rowHash(quads = false).as("h"))
      .collect().foreach(r => bloom.putLong(r.getLong(0)))
    writeBloom(spark, path, dir, expected, bloom)
  }
}
