package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed warehouse replacing the reference's Iceberg catalog
  * (`local.bronze/silver/gold.*` — spark-defaults.conf:1-5). Tables are
  * date-partitioned directories; overwrites are partition-scoped via
  * dynamic partition overwrite, so a MERGE rewrite touches only the
  * partitions the source batch spans — the property that keeps rewrite
  * amplification bounded at 100 TB.
  */
final class Warehouse(val spark: SparkSession, val root: String) {

  import org.apache.hadoop.fs.Path

  def path(layer: String, table: String): String = s"$root/$layer/$table"

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hadoop FileSystem check so the warehouse root can be local, hdfs://
    * or s3a:// alike (a `java.io.File` probe breaks on object storage).
    */
  def exists(layer: String, table: String): Boolean = {
    val p = new Path(path(layer, table))
    fs(p).exists(p)
  }

  def load(layer: String, table: String): DataFrame = {
    val name = catalogName(layer, table)
    if (catalogEntryExists(name)) spark.table(name)
    else spark.read.parquet(path(layer, table))
  }

  /** Session catalog database backing this warehouse's BUCKETED tables
    * (bucket metadata lives in the catalog, not in parquet footers).
    * Data files stay under the same `root` as path-based tables; in a
    * fresh session the catalog is empty and [[load]] degrades to the
    * plain parquet read — same rows, just without the bucket-join
    * optimization until the table is re-registered. The name is a pure
    * function of the root; the database itself is only created by
    * [[overwriteBucketed]] — reads never run DDL.
    */
  private val catalogDb: String = s"graft_wh_${graft.Digest.md5Hex(root, bytes = 4)}"

  private def catalogName(layer: String, table: String): String =
    s"$catalogDb.${layer}__$table"

  private def catalogEntryExists(name: String): Boolean =
    try spark.catalog.tableExists(name)
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** Path-based writes must not leave a stale catalog entry pointing at
    * files they are about to rewrite with a different layout (a bucketed
    * relation over re-partitioned files reads garbage).
    */
  private def dropCatalogEntry(layer: String, table: String): Unit = {
    val name = catalogName(layer, table)
    if (catalogEntryExists(name)) spark.sql(s"DROP TABLE $name")
  }

  /** Opt-in bucketed overwrite for fact tables: hash-bucketed (and
    * locally sorted) on the join keys, so recurring fact⋈fact joins and
    * key-grain aggregations plan with NO shuffle exchange — at 100 TB
    * this converts the daily feature build's widest shuffle into a
    * local merge. Full-table overwrite (bucketed tables trade dynamic
    * partition overwrite for co-location; use the path-based
    * [[overwrite]] where partition-scoped rewrite matters more).
    */
  /** Pre-shuffle onto the bucket function before a bucketed write:
    * `repartition(buckets, keys)` is the SAME Murmur3-mod expression the
    * bucketed writer uses for bucket ids, so each write task holds
    * exactly one bucket and emits exactly one file. Without this, every
    * shuffle task writes a file per bucket it sees — up to
    * tasks×buckets small files per write, which is what makes repeated
    * appends (and the final listing) expensive.
    */
  private def bucketAligned(df: DataFrame, bucketKeys: Seq[String], buckets: Int): DataFrame =
    df.repartition(buckets, bucketKeys.map(col): _*)

  /** TOTAL write-side sort order: the bucket keys, then every other
    * atomic column in schema order. Sorting by the bucket keys alone
    * leaves tie rows in SHUFFLE-FETCH order — a timing artifact — so
    * the written parquet bytes wobble run to run and every downstream
    * scan of the index shuffles slightly different compressed sizes
    * (the q189/q220 bench noise: ~2% shuffle-byte drift on an
    * otherwise deterministic signal). With the full tiebreak the file
    * CONTENT is a pure function of the table's rows. Atomic columns
    * suffice: every bucketed table here is row-unique on them (band
    * rows on (doc_id, band, band_key), postings on (term, doc_id), …).
    */
  private def totalSortCols(df: DataFrame, bucketKeys: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}
    bucketKeys ++ df.schema.fields.collect {
      case f
          if !bucketKeys.contains(f.name) && (f.dataType match {
            case _: ArrayType | _: MapType | _: StructType | BinaryType => false
            case _                                                      => true
          }) =>
        f.name
    }
  }

  def overwriteBucketed(
      df: DataFrame,
      layer: String,
      table: String,
      bucketKeys: Seq[String],
      buckets: Int = 32
  ): Unit = {
    // the root is interpolated into DDL text — escape backslashes and
    // single quotes so a pathological path (both are legal in POSIX file
    // names) cannot break out of the LOCATION literal
    val loc = root.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $catalogDb LOCATION '$loc'")
    val sortCols = totalSortCols(df, bucketKeys)
    bucketAligned(df, bucketKeys, buckets).write
      .mode("overwrite")
      .option("path", path(layer, table))
      .bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(catalogName(layer, table))
    // cross-session writers (see appendBucketed) must not leave this
    // session's relation cache pointing at the replaced files
    if (df.sparkSession ne spark)
      spark.catalog.refreshTable(catalogName(layer, table))
  }

  /** O(batch) append to a bucketed table created by [[overwriteBucketed]]:
    * the new batch's rows are hash-bucketed on the SAME keys and added as
    * new files per bucket — history is never rewritten, which is what
    * makes a maintained index (e.g. the dedup band index) affordable
    * nightly at 100 TB. Spark rejects the append if the bucketing spec
    * differs from the table's, so a drifting caller fails loudly.
    */
  def appendBucketed(
      df: DataFrame,
      layer: String,
      table: String,
      bucketKeys: Seq[String],
      buckets: Int = 32
  ): Unit = {
    val sortCols = totalSortCols(df, bucketKeys)
    bucketAligned(df, bucketKeys, buckets).write
      .mode("append")
      .option("path", path(layer, table))
      .bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .saveAsTable(catalogName(layer, table))
    // the write invalidates the relation cache of DF'S session — which
    // is not necessarily THIS warehouse's session (inside foreachBatch
    // the batch frame belongs to the micro-batch's session CLONE, and
    // each clone has its own relation cache). Without this refresh the
    // warehouse session keeps serving the pre-append file listing and a
    // streaming maintenance cycle silently reads a frozen index (the
    // q202 lesson).
    if (df.sparkSession ne spark)
      spark.catalog.refreshTable(catalogName(layer, table))
  }

  /** Drop this warehouse's catalog database (bucketed-table metadata).
    * Temp warehouses MUST call this before deleting their root, or the
    * session catalog accumulates databases pointing at deleted paths.
    * CASCADE drops the table entries; data files are left to the caller
    * (they live under `root`, which the caller owns).
    */
  def dropCatalogDb(): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS $catalogDb CASCADE")

  /** Full-replace snapshot write: deletes any existing table directory
    * before writing, so the result is exactly `df` regardless of what
    * partitions a previous snapshot held (dynamic partition overwrite
    * would merge instead). Only safe when `df` does not read from the
    * target path — snapshot targets whose source is another table.
    */
  def replaceSnapshot(df: DataFrame, layer: String, table: String): Unit = {
    dropCatalogEntry(layer, table)
    val target = new Path(path(layer, table))
    fs(target).delete(target, true)
    df.write.mode("overwrite").parquet(target.toString)
  }

  /** Append, date-partitioned when the schema carries `date`. */
  def append(df: DataFrame, layer: String, table: String): Unit = {
    dropCatalogEntry(layer, table)
    val w = df.write.mode("append")
    (if (df.columns.contains("date")) w.partitionBy("date") else w)
      .parquet(path(layer, table))
  }

  /** Full overwrite (dims) or dynamic partition overwrite (facts with a
    * `date` column + partitionOverwriteMode=dynamic from GraftSession).
    *
    * Non-partitioned (static) overwrite deletes the target directory
    * BEFORE the write job runs, so a df derived from the target itself —
    * the SCD2 dim-evolution path, which reads the current dim and writes
    * the merged dim back — would read a deleted input mid-job. For that
    * case the write is staged to a sibling directory and swapped in with
    * two renames (atomic per rename on HDFS/local; last-writer-wins on
    * object stores). Dynamic partition overwrite has no such hazard: it
    * stages files and only swaps partition contents at job commit.
    */
  def overwrite(df: DataFrame, layer: String, table: String): Unit =
    overwrite(df, layer, table, Map.empty)

  /** [[overwrite]] with per-write writer options. */
  private def overwrite(
      df: DataFrame, layer: String, table: String, options: Map[String, String]): Unit = {
    dropCatalogEntry(layer, table)
    val target = new Path(path(layer, table))
    val w = df.write.options(options).mode("overwrite")
    if (df.columns.contains("date")) {
      w.partitionBy("date").parquet(target.toString)
    } else {
      val filesystem = fs(target)
      if (!filesystem.exists(target)) {
        w.parquet(target.toString)
      } else {
        val stage = new Path(target.getParent, target.getName + ".__stage__")
        val old   = new Path(target.getParent, target.getName + ".__old__")
        filesystem.delete(stage, true)
        filesystem.delete(old, true)
        w.parquet(stage.toString)
        filesystem.rename(target, old)
        filesystem.rename(stage, target)
        filesystem.delete(old, true)
      }
    }
  }

  /** Drop a table: catalog entry (if any) and data files. Used for
    * consumed state tables (e.g. the gold-pending-dates ledger after a
    * gold build absorbs it).
    */
  def drop(layer: String, table: String): Unit = {
    dropCatalogEntry(layer, table)
    val target = new Path(path(layer, table))
    fs(target).delete(target, true)
  }

  /** Load-or-empty with the given schema (first pipeline run). */
  def loadOr(layer: String, table: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (exists(layer, table)) load(layer, table)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def parquetFiles(target: Path): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val filesystem = fs(target)
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.LocatedFileStatus]
    val it = filesystem.listFiles(target, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) out += f
    }
    out.toSeq
  }

  /** Small-file compaction — the operational chore a streaming warehouse
    * cannot skip at 100 TB: every micro-batch appends a file per
    * partition, and scan planning/open cost degrades with file COUNT
    * long before bytes matter.
    *
    * PARTITION-SCOPED: only date partitions that actually need work are
    * rewritten — a partition is "needy" when it holds more files than
    * its byte budget warrants (micro-batch dust) or a file that outgrew
    * the target by 50% (split for scan parallelism). Healthy partitions
    * are never touched, so a maintenance cycle over a 100 TB table
    * costs O(fragmented partitions), not O(history) — the same property
    * the incremental gold build has (a full-table rewrite per 2-hour
    * cycle was this method's round-13 scale bug). Needy partitions
    * rewrite into ceil(partitionBytes / targetBytes) files via the
    * deterministic maxRecordsPerFile budget, and the swap is the
    * dynamic-partition-overwrite commit — readers never observe a
    * partial partition. Non-partitioned tables still coalesce whole
    * through the stage-and-swap path (they are snapshots, rewritten by
    * their writers anyway). Returns (filesBefore, filesAfter).
    */
  def compact(layer: String, table: String, targetBytes: Long = 128L << 20): (Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    // a bucketed catalog table rewritten through the path-based
    // overwrite would silently lose its bucket layout (and the
    // zero-shuffle join property that justified it) — refuse instead
    require(!catalogEntryExists(catalogName(layer, table)),
      s"$layer.$table is a bucketed catalog table; re-bucket via overwriteBucketed instead of compact")
    val target = new Path(path(layer, table))
    val before = parquetFiles(target)
    val df = load(layer, table)

    // rows-per-file budget from measured density; the writer's
    // maxRecordsPerFile split is deterministic (ceil(rows / budget) files
    // per partition dir) where a hash-repartition file count is at the
    // mercy of AQE coalescing and bucket collisions. A per-write option,
    // not the session conf, so concurrent writers never see it.
    def budget(bytes: Long, rows: Long): Map[String, String] = {
      val avgRowBytes = math.max(1L, bytes / math.max(1L, rows))
      Map("maxRecordsPerFile" -> math.max(1L, targetBytes / avgRowBytes).toString)
    }

    if (df.columns.contains("date")) {
      val byPart = before.groupBy(_.getPath.getParent.getName)
      val needyDates = byPart.iterator.flatMap { case (dir, fs) =>
        val bytes = fs.map(_.getLen).sum
        val ideal = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
        val needy = fs.size > ideal || fs.exists(_.getLen > targetBytes + targetBytes / 2)
        if (!needy) None
        else
          // skip non-date dirs (hive null-partition etc.) rather than guess
          scala.util.Try(java.sql.Date.valueOf(dir.stripPrefix("date="))).toOption
      }.toSeq
      if (needyDates.nonEmpty) {
        val needyDirs  = needyDates.map(d => s"date=$d").toSet
        val needyBytes = byPart.collect { case (dir, fs) if needyDirs(dir) => fs.map(_.getLen).sum }.sum
        val sub        = df.where(col("date").isin(needyDates: _*))
        // one task per needy day (AQE may merge small days — harmless:
        // the writer still splits by partition dir); dynamic partition
        // overwrite swaps ONLY these partitions
        overwrite(sub.repartition(col("date")), layer, table, budget(needyBytes, sub.count()))
      }
    } else {
      overwrite(df.coalesce(1), layer, table, budget(before.map(_.getLen).sum, df.count()))
    }
    (before.size.toLong, parquetFiles(target).size.toLong)
  }
}

/** Processed-row ledger replacing in-place `UPDATE ... SET
  * processing_status='processed'` (bronze_to_silver.py:85-90 — SURVEY.md
  * §2.9 M4, §7 hard part (f)). In-place status flips force a rewrite of
  * every touched partition per ETL cycle; a ledger of processed business
  * keys makes "pending" an anti-join instead — O(batch) appended state,
  * zero rewrite of the bronze data.
  */
object StatusLedger {

  /** Rows of `bronze` not yet recorded in the ledger for `domain`. */
  def pending(bronze: DataFrame, ledger: DataFrame, keyCol: String): DataFrame =
    bronze.join(ledger.select(col(keyCol)), Seq(keyCol), "left_anti")

  /** Ledger delta for a batch just processed. */
  def markProcessed(batch: DataFrame, keyCol: String): DataFrame =
    batch.select(col(keyCol)).distinct()
      .withColumn("processed_at", current_timestamp())
}
