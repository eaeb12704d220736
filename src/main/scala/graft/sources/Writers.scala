package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks (SURVEY §2.1 S4/S5/S7) over plain parquet. The reference upserts
  * points/nodes/rows into Qdrant/Neo4j/Mongo with per-store retry code
  * (`memory_graph.py:13763-13814`, `:12244`, `:9200-9459`); on Spark the
  * write paths are table-level:
  *
  *  - upsert — compute the merged snapshot (anti-join + union: the
  *    `MERGE WHEN MATCHED` shape) and atomically swap directories, or
  *    merge only the touched Hive partitions ([[upsertPartitioned]]);
  *  - delete — anti-join rewrite by id (S7's delete-by-id), whole-table
  *    or partition-scoped ([[deletePartitioned]]).
  *
  * Plain parquet has no transaction log; `swapWrite` gives
  * write-new-then-rename atomicity, the usual pattern when a table format
  * (Delta/Iceberg) isn't on the classpath.
  */
object Writers {

  /** Table GENERATION marker — the invalidation signal long-lived serving
    * handles need. A cached DataFrame (or a compiled serving-session
    * template, [[graft.engine.Serving]]) pins the table's FILE LISTING at
    * construction; every maintenance mutation here (merge, delete,
    * compaction, swap rewrite) replaces or adds files, so a pinned handle
    * either throws FileNotFound or — worse, after a GDPR purge — keeps
    * serving retired data. The reference's stores version their
    * collections natively; plain parquet needs the marker.
    *
    * The marker is a SIBLING file (`path + ".generation"`), never inside
    * the table directory — swap/merge renames of the directory leave it
    * in place, and the parquet reader never lists it. Writers bump it
    * AFTER a mutation completes (so a reader refreshing on a bump always
    * sees the promoted state); readers poll it with one driver-side
    * file read — no Spark job. A table never written through
    * these writers simply has no marker (generation 0 forever), which
    * degrades to the old pin-at-construction behavior. */
  object Generation {
    private def p(s: String) = new org.apache.hadoop.fs.Path(s)
    /** Every marker read and write goes through the RAW filesystem: the
      * checksummed local view keeps a `.crc` sidecar that a replacing
      * rename does not swap atomically with the data, so a read beside a
      * bump could pair an old handle with the new checksum. */
    private def fs(spark: org.apache.spark.sql.SparkSession, path: String) =
      p(path).getFileSystem(spark.sparkContext.hadoopConfiguration) match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case f => f
      }

    /** Current generation; 0 when the marker is absent. */
    def read(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
      val in =
        try fs(spark, path).open(p(path + ".generation"))
        catch { case _: java.io.FileNotFoundException => return 0L }
      try {
        val buf = new Array[Byte](32)
        val n = in.read(buf)
        new String(buf, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      } finally in.close()
    }

    /** Bump after a completed mutation: write a temp file, then publish it
      * with ONE replacing rename — the marker never disappears, so a reader
      * polling mid-bump sees either the old or the new value, never 0 or a
      * partial file. POSIX rename replaces the target atomically; a
      * filesystem whose plain rename refuses an existing target (HDFS) gets
      * the same atomic replace through `Rename.OVERWRITE`. Single-writer,
      * like every mutation here. */
    def bump(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
      val f = fs(spark, path)
      val next = read(spark, path) + 1L
      val tmp = p(path + ".generation.tmp")
      val out = f.create(tmp, true)
      try out.write(next.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val m = p(path + ".generation")
      if (!f.rename(tmp, m))
        org.apache.hadoop.fs.FileContext.getFileContext(f.getUri, f.getConf)
          .rename(tmp, m, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      next
    }
  }

  /** Delete by id list (S7 `delete_memory_item` / parallel chunk deletes):
    * anti-join — no row-at-a-time round trips. */
  def deleteByIds(table: DataFrame, ids: DataFrame, key: String): DataFrame =
    table.join(ids.select(col(key)).distinct(), Seq(key), "left_anti")

  /** Upsert (S4 `batch_upsert_qdrant_points` shape): incoming wins on key. */
  def upsert(existing: DataFrame, incoming: DataFrame, key: String): DataFrame =
    existing.join(incoming.select(col(key)), Seq(key), "left_anti")
      .unionByName(incoming)

  /** Partition-scoped upsert: MERGE whose write amplification scales with
    * the BATCH, not the table. `upsert` + `swapWrite` rewrite the whole
    * table per batch — correct, but at the 100 TB north star a 1 GB ingest
    * rewrites 100 TB and doubles peak storage during the swap. Here only
    * the Hive partitions `incoming` touches are read (static partition
    * pruning via an IN-filter over the batch's distinct partition tuples —
    * bounded by the batch, typically a handful of tenant/day dirs), merged
    * (anti-join ∪ incoming: the same `MERGE WHEN MATCHED` shape as
    * `upsert`), and atomically swapped directory-by-directory with the
    * same retire→promote rename discipline as `swapWrite` (reference bar:
    * S4 point-upsert semantics, `memory_graph.py:13814`
    * `batch_upsert_qdrant_points`; SURVEY §2.1 maps it to Delta MERGE).
    *
    * Scoping, atomic per-directory swap and crash healing live in
    * [[mergePartitioned]] (shared with [[deletePartitioned]] and the
    * rollup refresh); this wrapper contributes only the MERGE semantics
    * (anti-join ∪ incoming).
    *
    * CONTRACT (same as Delta's partition-pruned MERGE): a key must not
    * migrate across partitions — the anti-join only sees the partitions
    * `incoming` touches, so a row whose key reappears with a DIFFERENT
    * partition value would survive in its old directory. Holds by
    * construction for tenant/creation-day layouts where the partition
    * columns are immutable attributes of the key.
    *
    * `sortCols`: cluster the rewritten partitions' files by these columns
    * (see [[mergePartitioned]]) — the serving-layout knob that makes
    * pushed point-probe predicates skip files/row groups instead of
    * scanning the standing table.
    *
    * Returns the table-relative paths of the swapped partition
    * directories (what a caller audits to confirm rewrite scope). */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                        incoming: DataFrame, key: String,
                        partitionCols: Seq[String],
                        sortCols: Seq[String] = Nil): Seq[String] =
    mergePartitioned(spark, path, incoming, partitionCols, incoming.schema,
      sortCols) {
      scoped =>
        scoped.join(incoming.select(col(key)).distinct(), Seq(key), "left_anti")
          .unionByName(incoming)
    }

  /** The shared partition-scoped rewrite core under [[upsertPartitioned]]
    * and [[deletePartitioned]]: scope the
    * table to the partitions `scopeFrom` touches, hand those rows to
    * `mergeFn`, and atomically swap ONLY the touched directories.
    *
    * Mechanics that make it safe:
    *  - the touched-partition set is the batch's distinct partition tuples
    *    (a bounded collect — a few tenant/day combinations, never
    *    table-proportional), turned into a literal IN-style predicate that
    *    statically prunes the read to those directories. `readSchema` pins
    *    the partition-column types: inference would read a string tenant
    *    "0" back as int, breaking downstream unions AND cast-wrapping the
    *    predicate so it can't prune;
    *  - `mergeFn(scoped)` is written `partitionBy` to a sibling
    *    `path + ".merge.tmp"`; the batch's distinct tuples are also
    *    written `partitionBy` to `path + ".merge.touch"`, so the
    *    Hive-ESCAPED directory names of every touched partition — even one
    *    whose merged output is EMPTY — come from Spark itself and are
    *    never re-derived here;
    *  - per touched directory: retire main → promote tmp (or, when the
    *    merge emptied the partition, nothing — the retire IS the delete) →
    *    drop the retired copy. Every rename is checked (Hadoop reports
    *    failure by returning false). Retired copies live under
    *    `path + ".upsert.retired"`, a SIBLING of the table root (a
    *    `k=v.old` dir inside the root would parse as a partition value),
    *    and [[healPartitions]] — run first on every call — promotes
    *    orphans from a prior crash back before anything else;
    *  - a crash at any point leaves every partition at either its old or
    *    its new complete contents (or its old contents under the retired
    *    root, which heal restores); an at-least-once re-run converges.
    *
    * CONCURRENCY CONTRACT — single writer per table: two concurrent
    * merges on one path race each other's tmp/touch/retired directories
    * (plain parquet has no lock; use a table format for multi-writer).
    * Likewise, [[healPartitions]] (including via
    * [[graft.sources.Readers.table]]) must not run concurrently with a
    * LIVE merge on the same table — a heal observing the retire-to-promote
    * window would promote the retired copy back under the writer.
    * Crash-then-heal (no live writer) and concurrent healers are safe.
    *
    * `sortCols` — CLUSTERED rewrite layout: the merged output is
    * range-partitioned and sorted by `partitionCols ++ sortCols` before
    * the partitioned write, so every rewritten file covers a compact
    * `sortCols` range and parquet min/max stats (row-group and page-level
    * column indexes) turn a pushed point predicate into file/row-group
    * SKIPPING. This is what makes the maintained serving tables (LSH
    * bands by band_key, IVF assignment by centroid_id) answer point
    * probes without scanning the collection — the touched partitions are
    * fully rewritten anyway, so sorting them rides the rewrite's existing
    * shuffle budget (one range exchange of batch-touched rows, never
    * table-sized).
    * `repartitionByRange` (not `repartition(partitionCols)`) keeps
    * intra-partition write parallelism: a huge touched partition splits
    * across tasks into files with DISJOINT sort ranges, each individually
    * prunable.
    *
    * Returns the table-relative touched directory names (what a caller
    * audits to confirm rewrite scope). */
  def mergePartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                       scopeFrom: DataFrame, partitionCols: Seq[String],
                       readSchema: org.apache.spark.sql.types.StructType,
                       sortCols: Seq[String] = Nil)
                      (mergeFn: DataFrame => DataFrame): Seq[String] = {
    require(partitionCols.nonEmpty, "mergePartitioned needs partition columns; compute the merge and swapWrite for unpartitioned tables")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val tmpRoot = path + ".merge.tmp"
    val touchRoot = path + ".merge.touch"
    val retiredRoot = path + ".upsert.retired"

    healPartitions(spark, path)
    Seq(tmpRoot, touchRoot).foreach(d => if (fs.exists(p(d))) fs.delete(p(d), true))

    val touched = scopeFrom.select(partitionCols.map(col): _*).distinct()
    val touchedRows = touched.collect()
    if (touchedRows.isEmpty) return Nil
    val touchedPred = touchedRows.map { r =>
      partitionCols.zipWithIndex.map { case (c, i) =>
        if (r.isNullAt(i)) col(c).isNull else col(c) <=> lit(r.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)
    val scoped =
      if (!fs.exists(root))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], readSchema)
      else spark.read.schema(readSchema).parquet(path).filter(touchedPred)

    // both reads of `path` (scoped rows and any reads inside mergeFn)
    // happen during these two writes — strictly before any rename below
    val merged = mergeFn(scoped)
    val laidOut =
      if (sortCols.isEmpty) merged
      else merged
        .repartitionByRange((partitionCols ++ sortCols).map(col): _*)
        .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    laidOut.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(tmpRoot)
    touched.withColumn("__t", lit(1)).write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(touchRoot)

    def leafDirs(dir: org.apache.hadoop.fs.Path, depth: Int): Seq[String] =
      if (depth == 0) Seq("")
      else fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => leafDirs(st.getPath, depth - 1)
          .map(rest => if (rest.isEmpty) st.getPath.getName else st.getPath.getName + "/" + rest))
    val relsAll = leafDirs(p(touchRoot), partitionCols.length)
    val relsNew = leafDirs(p(tmpRoot), partitionCols.length).toSet
    // Contract: mergeFn must not MOVE rows across partitions — the swap
    // below only promotes directories named by the touch markers, so output
    // rows landing in an untouched partition tuple would be silently
    // deleted with tmpRoot. All shipped callers preserve the partition
    // columns (anti-join ∪ incoming, anti-join, repartition); fail loudly
    // on a future mergeFn that rewrites a partition value.
    require(relsNew.subsetOf(relsAll.toSet),
      s"mergePartitioned: mergeFn emitted rows outside the touched partition set " +
        s"(${relsNew.diff(relsAll.toSet).take(3).mkString(", ")} …) — " +
        "partition values must be immutable under the merge")

    def mustRename(from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit =
      require(fs.rename(from, to), s"mergePartitioned: rename $from -> $to failed")
    fs.mkdirs(root)
    relsAll.foreach { rel =>
      val main = p(path + "/" + rel)
      val tmp = p(tmpRoot + "/" + rel)
      val retired = p(retiredRoot + "/" + rel)
      if (fs.exists(retired)) fs.delete(retired, true)
      fs.mkdirs(retired.getParent)
      if (fs.exists(main)) mustRename(main, retired)
      if (relsNew.contains(rel)) {
        fs.mkdirs(main.getParent)
        mustRename(tmp, main)
      }
      fs.delete(retired, true)
    }
    Seq(tmpRoot, touchRoot, retiredRoot)
      .foreach(d => if (fs.exists(p(d))) fs.delete(p(d), true))
    Generation.bump(spark, path)
    relsAll
  }

  /** Partition-scoped DELETE by id: the S7 path with write amplification
    * ∝ the victim set's partitions, not the table. `deleteByIds` +
    * `swapWrite` rewrite the whole table to drop a handful of rows — the
    * GDPR-cascade shape (reference: `delete_memory_item` fan-out) made
    * 100 TB-viable the same way [[upsertPartitioned]] fixes MERGE.
    * `victims` must carry `key` + `partitionCols` (a GDPR delete knows
    * the tenant; a chunk delete knows the parent's partition).
    *
    * Only the partitions `victims` touches are read and anti-joined
    * ([[mergePartitioned]] owns the scoping, the per-directory swap and
    * the crash heal). A partition whose every row is deleted is REMOVED —
    * the core's touch-marker write names every touched directory even
    * when its merged output is empty, so the retire-without-promote IS
    * the directory drop.
    *
    * Crash contract (shared with upsert): an orphaned retired copy is that
    * partition's last complete pre-delete data; `healPartitions` promotes
    * it back and an at-least-once re-run of the delete converges. Same
    * key-doesn't-migrate contract as `upsertPartitioned`.
    *
    * `sortCols` preserves a clustered serving layout through the rewrite
    * (pass the SAME columns the append sink clusters by — a delete that
    * rewrote a partition unsorted would silently destroy its
    * file-skipping property until the next compaction).
    *
    * Returns the table-relative touched partition directories. */
  def deletePartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                        victims: DataFrame, key: String,
                        partitionCols: Seq[String],
                        sortCols: Seq[String] = Nil): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    healPartitions(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) return Nil
    // pin the partition columns to the victims' types (inference would
    // read a string tenant "0" back as int, cast-wrapping the scope
    // predicate so it can't statically prune)
    val vTypes = victims.schema.fields.map(f => f.name -> f.dataType).toMap
    val pinned = org.apache.spark.sql.types.StructType(
      spark.read.parquet(path).schema.map(f =>
        if (partitionCols.contains(f.name) && vTypes.contains(f.name))
          f.copy(dataType = vTypes(f.name))
        else f))
    mergePartitioned(spark, path, victims, partitionCols, pinned, sortCols) {
      scoped =>
        scoped.join(victims.select(col(key)).distinct(), Seq(key), "left_anti")
    }
  }

  /** Walk a Hive `k=v` directory chain under `dir`, returning table-
    * relative leaf partition names (listStatus returns scheme-qualified
    * paths, so string-stripping the root would not match). Empty when the
    * root does not exist or holds no `k=v` directories. */
  private[graft] def partitionLeafDirs(
      spark: org.apache.spark.sql.SparkSession, dir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    def walk(d: org.apache.hadoop.fs.Path, rel: String): Seq[String] = {
      val subs = fs.listStatus(d).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      subs.flatMap { st =>
        val childRel = if (rel.isEmpty) st.getPath.getName else rel + "/" + st.getPath.getName
        val deeper = walk(st.getPath, childRel)
        if (deeper.isEmpty) Seq(childRel) else deeper
      }
    }
    walk(root, "")
  }

  /** True while a partition-scoped rewrite's crash-contract artifacts
    * stand — [[mergePartitioned]] creates `path + ".upsert.retired"` before
    * its first retire rename and removes it after the last promote, so a
    * standing retired root means a rewrite is MID-FLIGHT or crashed. One
    * driver-side existence probe (the serving retry's in-flight signal). */
  private[graft] def retiredPartitionsPresent(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path + ".upsert.retired")
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root)
  }

  /** Table-relative retired partition directories whose MAIN directory is
    * missing — each IS its partition's last complete snapshot, orphaned by
    * a crash between retire and promote (or observed inside a LIVE merge's
    * retire-to-promote window). Empty (one existence probe) when no
    * retired root stands. */
  private[graft] def orphanedRetiredPartitions(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    partitionLeafDirs(spark, path + ".upsert.retired").filter { rel =>
      !fs.exists(new org.apache.hadoop.fs.Path(path + "/" + rel)) }
  }

  /** Promote any partition directories orphaned by a crash between a
    * retire and promote rename in [[upsertPartitioned]] or
    * [[deletePartitioned]] (they share the retired root): a retired copy
    * whose main directory is missing IS that partition's last complete
    * snapshot. No-op when no crash happened; both writers run it first on
    * every call, and it remains the explicit RECOVERY entry point. After
    * healing, re-running the interrupted upsert/delete converges
    * (at-least-once discipline).
    *
    * Single-writer caveat: do NOT run concurrently with a LIVE merge on
    * the same table — a heal observing the retire-to-promote window would
    * promote the retired copy back under the writer. READERS never need
    * this: [[Readers.table]] unions orphaned retired partitions in place
    * without renaming. */
  def healPartitions(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    orphanedRetiredPartitions(spark, path).foreach { rel =>
      val retired = p(path + ".upsert.retired/" + rel)
      val main = p(path + "/" + rel)
      if (!fs.exists(main)) {
        fs.mkdirs(main.getParent)
        // tolerant to a concurrent HEALER (two recovery runs healing the
        // same orphan race this rename; the loser is fine iff the
        // partition is now in place). Concurrent live WRITERS are outside
        // the contract — see the single-writer note on [[mergePartitioned]].
        if (!fs.rename(retired, main))
          require(fs.exists(main),
            s"healPartitions: rename $retired -> $main failed and $main still missing")
      }
    }
  }

  /** Write `df` to `path` atomically: materialize to `path.tmp`, retire the
    * current snapshot to `path.swap.old`, promote tmp, then drop the
    * retired copy. Readers see the old or the new snapshot, never a
    * half-written one — and no crash window loses data: if the process
    * dies between retire and promote, the last complete snapshot still
    * exists at `path.swap.old` (see `readSnapshot`). A stale `.swap.old`
    * from such a crash is cleaned up on the next swap. */
  def swapWrite(df: DataFrame, path: String,
                partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path + ".tmp")
    // Hadoop FileSystem.rename reports failure by returning FALSE, not by
    // throwing — every rename must be checked, and the function must abort
    // BEFORE the final delete of .swap.old: an unchecked failed promote
    // followed by that delete would destroy the only complete snapshot.
    def mustRename(from: String, to: String): Unit =
      require(fs.rename(p(from), p(to)), s"swapWrite: rename $from -> $to failed")
    // heal a prior retire→promote crash BEFORE touching the retired copy:
    // without this, deleting .swap.old below could orphan the only
    // complete snapshot if we crash again before promoting tmp
    if (!fs.exists(p(path)) && fs.exists(p(path + ".swap.old")))
      mustRename(path + ".swap.old", path)
    if (fs.exists(p(path + ".swap.old"))) fs.delete(p(path + ".swap.old"), true)
    if (fs.exists(p(path))) mustRename(path, path + ".swap.old")
    mustRename(path + ".tmp", path)
    fs.delete(p(path + ".swap.old"), true)
    Generation.bump(spark, path)
  }

  /** Resolve the directory a READER of a swap-maintained table should scan,
    * WITHOUT renaming anything: the primary when it exists, else the
    * retired `.swap.old` copy a [[swapWrite]] crash (or a LIVE swap's
    * retire→promote window) leaves behind. This is the concurrency-safe
    * read-side of the swap contract — a reader that instead HEALED
    * (renamed `.swap.old` back) while a swap was live would yank the
    * retired copy out from under the writer's promote, aborting the
    * maintenance write. All renames stay with the single
    * writer ([[swapWrite]] self-heals on its next call;
    * [[healSwap]] remains for explicit RECOVERY entry points that know no
    * writer is live). The returned path is a snapshot pin: a `.swap.old`
    * result goes stale once the writer completes its promote — callers
    * re-resolve per read, never cache it across maintenance cycles. */
  def swapReadPath(spark: org.apache.spark.sql.SparkSession,
                   path: String): String = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    if (!fs.exists(p(path)) && fs.exists(p(path + ".swap.old")))
      path + ".swap.old"
    else path
  }

  /** Promote a `.swap.old` copy orphaned by a [[swapWrite]] crash between
    * retire and promote (primary missing) back to the primary — the
    * whole-table twin of [[healPartitions]], for explicit RECOVERY entry
    * points. No-op otherwise. Single-writer caveat: don't run concurrently
    * with a LIVE swap on the path — a serving session reading between a
    * live swap's retire and promote must use the non-destructive
    * [[swapReadPath]] instead. */
  def healSwap(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    if (!fs.exists(p(path)) && fs.exists(p(path + ".swap.old")))
      require(fs.rename(p(path + ".swap.old"), p(path)),
        s"healSwap: rename ${path}.swap.old -> $path failed")
  }

  /** Partition-scoped compaction — the maintenance pass that pairs with
    * [[upsertPartitioned]]/[[deletePartitioned]]: every scoped merge lands
    * at least one new file in each touched partition, so a streaming
    * cadence accretes per-partition small files. Only partitions holding
    * more than `maxFilesPerPartition` data files are rewritten (each
    * collapsing to one file — the hash-repartition on the partition
    * columns puts a partition's rows in exactly one task), everything
    * else stays byte-identical on disk. Candidates are found with one
    * column-pruned scan grouped by the partition columns counting distinct
    * `input_file_name()` — typed partition tuples straight from the data,
    * never parsed back out of directory names. Atomicity and crash healing
    * are [[mergePartitioned]]'s. Partitions whose data exceeds a sane
    * single file (many GB) need a size-targeted rewrite instead (a
    * repartitioned [[swapWrite]]). `sortCols` re-establishes a clustered
    * serving layout while compacting (the maintenance cadence for the
    * maintained band/assignment tables passes the same columns their
    * sinks cluster by). Returns the rewritten partition directories. */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession, path: String,
                        partitionCols: Seq[String],
                        maxFilesPerPartition: Int = 1,
                        sortCols: Seq[String] = Nil): Seq[String] = {
    val df = spark.read.parquet(path)
    // input_file_name() is nondeterministic, so it must be projected before
    // aggregation (Spark rejects it inside an aggregate function)
    val candidates = df
      .select(partitionCols.map(col) :+ input_file_name().as("__f"): _*)
      .distinct()
      .groupBy(partitionCols.map(col): _*).agg(count(lit(1)).as("__nf"))
      .filter(col("__nf") > maxFilesPerPartition)
      .drop("__nf")
    mergePartitioned(spark, path, candidates, partitionCols, df.schema) {
      // one task per compacted partition (≈1 file each) — deliberately NOT
      // the core's range layout, which spreads rows back across the
      // shuffle-partition count and would defeat the compaction; the
      // within-task sort restores the clustered layout inside the single
      // output file (page/row-group stats stay selective)
      scoped =>
        val one = scoped.repartition(partitionCols.map(col): _*)
        if (sortCols.isEmpty) one
        else one.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    }
  }

  /** Read the snapshot maintained by `swapWrite`, recovering from a crash
    * that landed between retire and promote (primary missing → the retired
    * copy IS the last complete snapshot). Returns None only when neither
    * exists — a genuine first run. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
                   schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      Some(spark.read.schema(schema).parquet(path))
    else if (fs.exists(new org.apache.hadoop.fs.Path(path + ".swap.old")))
      Some(spark.read.schema(schema).parquet(path + ".swap.old"))
    else None
  }
}
