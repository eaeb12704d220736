package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Line-oriented ingest sources (JSONL / CSV) with quarantine semantics —
  * the shape a 100 TB training-data ingest needs: a malformed line must
  * neither fail the job (FAILFAST) nor silently vanish (DROPMALFORMED);
  * it lands in a `bad` side-channel for audit and replay.
  *
  * Deliberately NOT the DataFrameReader corrupt-column path: filtering the
  * json/csv datasource's `_corrupt_record` requires caching the raw scan
  * (Spark refuses the query otherwise), which is exactly what a 100 TB read
  * cannot do. Instead lines are read as text and parsed with
  * `from_json`/`from_csv` carrying an inline corrupt-capture column — one
  * streaming pass, no cache, splittable, and the same expression works in
  * Structured Streaming (`readStream.text`).
  *
  * The reference ingests documents as JSON bodies (FastAPI models —
  * `memory/models.py`); this generalizes that boundary to bulk files.
  */
object Readers {

  val CorruptCol = "_graft_corrupt"

  /** Shared quarantine split: a parser yields a null struct for an
    * unparseable line and fills the capture column for a partially-valid
    * one — both are quarantine cases. */
  private def split(lines: DataFrame, schema: StructType,
                    parse: (org.apache.spark.sql.Column, StructType) => org.apache.spark.sql.Column)
      : (DataFrame, DataFrame) = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not contain reserved column $CorruptCol")
    val parsed = lines.select(
      parse(col("value"), schema.add(CorruptCol, StringType)).as("rec"),
      col("value"))
    val bad = parsed
      .filter(col("rec").isNull || col(s"rec.$CorruptCol").isNotNull)
      .select(col("value").as("raw_line"))
    val good = parsed
      .filter(col("rec").isNotNull && col(s"rec.$CorruptCol").isNull)
      .select(schema.fieldNames.map(f => col(s"rec.$f").as(f)).toSeq: _*)
    (good, bad)
  }

  /** Split parsed lines into (good, bad). `lines` must have a string
    * `value` column (what `spark.read.text` / `readStream.text` yield).
    * Good rows carry the schema's columns; bad rows carry the raw line. */
  def parseJsonLines(lines: DataFrame, schema: StructType): (DataFrame, DataFrame) =
    split(lines, schema, (c, s) => from_json(c, s,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)))

  /** Same contract for CSV lines (no header handling — headers are metadata,
    * strip the first line upstream). */
  def parseCsvLines(lines: DataFrame, schema: StructType, sep: String = ","): (DataFrame, DataFrame) =
    split(lines, schema, (c, s) => from_csv(c, s,
      Map("mode" -> "PERMISSIVE", "sep" -> sep,
          "columnNameOfCorruptRecord" -> CorruptCol)))

  /** File-path entry points: text scan → parse. Splittable parallel read. */
  def jsonlFiles(spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) =
    parseJsonLines(spark.read.text(path), schema)

  /** Read a table maintained by the partition-scoped write path
    * ([[Writers.upsertPartitioned]] / [[Writers.deletePartitioned]] and
    * the `mergePartitioned`-core sinks), covering the crash window
    * WITHOUT renaming anything — the read-side half of that path's crash
    * contract, with all renames left to the single writer.
    *
    * A crash between a partition's retire and promote renames leaves its
    * last complete contents under the sibling `path + ".upsert.retired"`
    * root; the WRITERS heal it on their next call, but a plain
    * `spark.read.parquet(path)` in the crash-to-next-merge window would
    * silently miss the whole partition. Reading through here UNIONS any
    * orphaned retired partitions in place (basePath-anchored reads of the
    * orphaned leaf directories — partition values still come from the
    * `k=v` names), so readers always see every partition's last complete
    * snapshot. Earlier rounds HEALED here (renamed the orphan back),
    * which was only safe under a no-live-merge convention: a read racing
    * a live merge's retire-to-promote window would have promoted the
    * retired copy back under the writer and aborted its promote — the
    * union read has no such window. Explicit
    * recovery stays with [[Writers.healPartitions]]. The no-crash fast
    * path is one existence probe + a plain read, as before.
    *
    * Pass `schema` for tables whose partition-column types matter
    * (inference reads a string tenant "0" back as int) — same pinning
    * rule as the writers themselves.
    *
    * CONCURRENCY: a plain read racing a LIVE merge on the same table
    * remains a best-effort snapshot (the per-partition renames land one
    * directory at a time); long-lived serving sessions get exact
    * old-or-new semantics by re-reading through here under the generation
    * protocol (`Writers.Generation` markers, polled and settled by
    * `graft.engine.Serving`) instead. The SWAP discipline is likewise
    * rename-free on the read side: a missing primary falls back to reading
    * the retired `.swap.old` copy in place (`Writers.swapReadPath`), so ONE
    * reader entry point covers both write disciplines. */
  def table(spark: SparkSession, path: String,
            schema: Option[StructType] = None): DataFrame = {
    val orphans = Writers.orphanedRetiredPartitions(spark, path)
    val resolved = Writers.swapReadPath(spark, path)
    def read(basePath: String, leafs: Seq[String]): DataFrame = {
      val r = spark.read.option("basePath", basePath)
      schema.fold(r)(s => r.schema(s))
        .parquet(leafs.map(l => basePath + "/" + l): _*)
    }
    if (orphans.isEmpty) {
      val r = spark.read
      schema.fold(r)(s => r.schema(s)).parquet(resolved)
    } else {
      // crash-window union: the primary's leaf listing is pinned HERE
      // (alongside the orphan check) so a writer completing a promote
      // between the check and the scan cannot surface a partition twice
      val primaryLeafs = Writers.partitionLeafDirs(spark, resolved)
      val sides =
        (if (primaryLeafs.nonEmpty) Seq(read(resolved, primaryLeafs)) else Nil) :+
          read(path + ".upsert.retired", orphans)
      sides.reduce(_ unionByName _)
    }
  }
}
