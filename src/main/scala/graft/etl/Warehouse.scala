package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed warehouse replacing the reference's Iceberg catalog
  * (`local.bronze/silver/gold.*` — spark-defaults.conf:1-5). Tables are
  * date-partitioned directories. Every [[overwrite]] states its scope,
  * as an Iceberg write does: the whole table or a list of dates, written
  * aside and swapped in by rename. Keyed writes go through [[merge]], the
  * one `MERGE INTO`: new keys land as an append, and replaced versions
  * rewrite only the dates of the new and the replaced rows — the
  * property that keeps rewrite amplification bounded at 100 TB.
  *
  * Write distribution: like an Iceberg table `PARTITIONED BY (date)`
  * with hash distribution, [[overwrite]] and [[append]] cluster a frame
  * that carries `date` by it before writing (a `rebalance` hint), so
  * each write leaves one file per date — AQE merges small dates into
  * one task and still splits a date above the advisory partition size.
  * Without it every write task leaves a file in every date it holds.
  *
  * Job-free reads: like a read that takes its schema from table
  * metadata, [[load]] takes the schema Spark recorded in the footer of
  * the table's first data file and hands it to the reader, so opening a
  * table runs no schema-inference job.
  */
final class Warehouse(val spark: SparkSession, val root: String) {

  import scala.jdk.CollectionConverters._

  import org.apache.hadoop.fs.{FileStatus, Path}

  def path(layer: String, table: String): String = s"$root/$layer/$table"

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True when the table holds a data file, so a directory a failed
    * first commit left empty reads as absent. A Hadoop FileSystem listing:
    * the root can be local, hdfs:// or s3a:// alike.
    */
  def exists(layer: String, table: String): Boolean =
    dataFiles(new Path(path(layer, table))).hasNext

  def load(layer: String, table: String): DataFrame = {
    val name = catalogName(layer, table)
    if (catalogEntryExists(layer, table)) spark.table(name)
    else {
      val p = path(layer, table)
      footerSchema(new Path(p)) match {
        case Some(s) => spark.read.schema(s).parquet(p)
        // no data file or no Spark schema in its footer: infer, which
        // also gives the usual error for a table without data files
        case None => spark.read.parquet(p)
      }
    }
  }

  /** The schema Spark wrote into the footer of the table's first data
    * file, read on the driver, plus the `date` partition column when that
    * file lies in a `date=` directory. The column is typed here, not from
    * the directory names: a table whose only partition is the null one
    * (`date=__HIVE_DEFAULT_PARTITION__`) would otherwise read `date` as VOID.
    */
  private def footerSchema(target: Path): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{DataType, DateType, StructType}
    dataFiles(target).nextOption().flatMap { f =>
      val json = Option(footer(f).getKey_value_metadata).flatMap(_.asScala
        .find(_.getKey == "org.apache.spark.sql.parquet.row.metadata")).flatMap(kv => Option(kv.getValue))
      json.flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption).collect {
        case s: StructType if f.getPath.getParent.getName.startsWith("date=") => s.add("date", DateType)
        case s: StructType => s
      }
    }
  }

  /** The footer of the parquet data file `file`, without its row groups:
    * the file's row count (`num_rows`), schema and key-value metadata. The
    * one footer reader of the warehouse. It opens the file through the
    * session's Hadoop configuration (the one-argument
    * `ParquetFileReader.open` builds a new `Configuration` per file, which
    * costs far more than the read), reads the footer bytes in one call and
    * decodes them skipping the row groups, whose per-column metadata
    * neither a count nor a schema needs.
    */
  private def footer(file: FileStatus): org.apache.parquet.format.FileMetaData = {
    import java.nio.{ByteBuffer, ByteOrder}
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromStatus(file, spark.sparkContext.hadoopConfiguration).newStream()
    try {
      // a footer ends the file: its length (4 bytes, little-endian), then "PAR1"
      val tail = new Array[Byte](8)
      in.seek(file.getLen - tail.length)
      in.readFully(tail)
      if (new String(tail, 4, 4, "US-ASCII") != "PAR1")
        throw new java.io.IOException(s"${file.getPath} does not end in a plain parquet footer")
      val bytes = new Array[Byte](ByteBuffer.wrap(tail, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt)
      in.seek(file.getLen - tail.length - bytes.length)
      in.readFully(bytes)
      org.apache.parquet.format.Util.readFileMetaData(new java.io.ByteArrayInputStream(bytes), true)
    } finally in.close()
  }

  /** Every data file of a path-based table with the row count its parquet
    * footer records, in sorted path order; empty when the table holds no
    * data file. Like the record counts in an Iceberg manifest, it answers
    * a table's row count, and the dates that hold rows, on the driver with
    * no job: their sums equal what a scan of [[load]] counts. A bucketed
    * catalog table is refused, as [[compact]] refuses one.
    */
  def fileRows(layer: String, table: String): Seq[Warehouse.FileRows] = {
    require(!catalogEntryExists(layer, table),
      s"$layer.$table is a bucketed catalog table; count it with a scan of load")
    dataFiles(new Path(path(layer, table))).map(rowsOf).toSeq
  }

  private def rowsOf(f: FileStatus) = Warehouse.FileRows(f.getPath, f.getLen, footer(f).getNum_rows)

  /** The files a parquet read of `target` would scan, in sorted path order,
    * listed lazily one directory at a time: names starting with `_` or `.`
    * are skipped as Spark's listing skips them (`_SUCCESS`, `_temporary/`,
    * checksums), except `_`-prefixed `k=v` partition directories.
    * `listStatus`, not `listFiles`, whose `LocatedFileStatus` reads each
    * file's permission, which a local filesystem without `libhadoop` does
    * by forking `ls -ld`.
    */
  private def dataFiles(target: Path): Iterator[FileStatus] = {
    val filesystem = fs(target)
    def visible(n: String) = !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".")
    def walk(dir: Path): Iterator[FileStatus] =
      filesystem.listStatus(dir).filter(st => visible(st.getPath.getName))
        .sortBy(_.getPath.getName).iterator
        .flatMap(st => if (st.isDirectory) walk(st.getPath) else Iterator.single(st))
    if (filesystem.exists(target)) walk(target) else Iterator.empty
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

  /** True when this warehouse's catalog database holds `layer.table`: two
    * session-catalog lookups, with no SQL parse and no exception thrown
    * for a root without bucketed tables, the usual case (each `load` and
    * write asks, and `catalog.tableExists` on a name costs milliseconds).
    */
  private def catalogEntryExists(layer: String, table: String): Boolean = {
    val catalog = spark.sessionState.catalog
    catalog.databaseExists(catalogDb) &&
      catalog.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(s"${layer}__$table", Some(catalogDb)))
  }

  /** Path-based writes must not leave a stale catalog entry pointing at
    * files they are about to rewrite with a different layout (a bucketed
    * relation over re-partitioned files reads garbage).
    */
  private def dropCatalogEntry(layer: String, table: String): Unit = {
    val name = catalogName(layer, table)
    if (catalogEntryExists(layer, table)) spark.sql(s"DROP TABLE $name")
  }

  /** Opt-in bucketed overwrite for fact tables: hash-bucketed (and
    * locally sorted) on the join keys, so recurring fact⋈fact joins and
    * key-grain aggregations plan with NO shuffle exchange — at 100 TB
    * this converts the daily feature build's widest shuffle into a
    * local merge. Full-table overwrite (bucketed tables trade the dated
    * overwrite for co-location; use the path-based [[overwrite]] where
    * partition-scoped rewrite matters more).
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

  /** A frame carrying `date`, clustered by it (the class's write
    * distribution). `rebalance`, not `repartition`: AQE may still split
    * a date above the advisory size, so one task never holds a whole
    * oversized day.
    */
  private def byDate(df: DataFrame): DataFrame =
    if (df.columns.contains("date")) df.hint("rebalance", col("date")) else df

  /** Append, date-partitioned and clustered by [[byDate]] when the
    * schema carries `date`.
    */
  def append(df: DataFrame, layer: String, table: String): Unit = {
    dropCatalogEntry(layer, table)
    val w = byDate(df).write.mode("append")
    (if (df.columns.contains("date")) w.partitionBy("date") else w)
      .parquet(path(layer, table))
  }

  /** Whole-table replace (Iceberg's `replace`): the table becomes exactly
    * `df`, clustered by [[byDate]], whatever dates it held before.
    */
  def overwrite(df: DataFrame, layer: String, table: String): Unit =
    replace(byDate(df), layer, table, None, Map.empty)

  /** Date-scoped replace (Iceberg's `overwrite(date IN dates)`): each of
    * `dates` becomes exactly `df`'s rows for it (none: the date is
    * deleted), other dates stay. A row outside `dates`, null included,
    * fails the write before anything is swapped.
    */
  def overwrite(df: DataFrame, layer: String, table: String, dates: Seq[java.sql.Date]): Unit =
    replace(byDate(df), layer, table, Some(dates), Map.empty)

  /** The one replace commit, with per-write writer options and the
    * caller's distribution: `df` is written to a sibling stage directory,
    * then swapped in by two renames, the whole table or each named `date=`
    * directory in the order named. So a frame may read its own target (the
    * SCD2 dims do). Renames are atomic on HDFS and local disk,
    * last-writer-wins on S3.
    *
    * A swap that fails part-way throws and leaves a replaced part only in
    * the `__old__` directory. Before the first rename a journal lists the
    * parts the stage replaces, so the next replace of the table first puts
    * each of them whose target is missing back, while a named date the
    * stage has no rows for stays deleted.
    */
  private def replace(df: DataFrame, layer: String, table: String,
      dates: Option[Seq[java.sql.Date]], options: Map[String, String]): Unit = {
    dropCatalogEntry(layer, table)
    val target     = new Path(path(layer, table))
    val filesystem = fs(target)
    val stage      = new Path(target.getParent, target.getName + ".__stage__")
    val old        = new Path(target.getParent, target.getName + ".__old__")
    val journal    = new Path(target.getParent, target.getName + ".__swap__")
    // a part of the swap under `dir`: "." is the whole table, else a `date=` directory
    def part(dir: Path, n: String): Path = if (n == ".") dir else new Path(dir, n)
    def clean(): Unit = Seq(stage, old, journal).foreach(filesystem.delete(_, true))
    def move(from: Path, to: Path): Unit =
      if (!filesystem.rename(from, to)) throw new java.io.IOException(s"rename $from -> $to failed")
    // `from` takes the place of `to`; an absent `from` leaves `to` deleted
    def swap(from: Path, to: Path, aside: Path): Unit = {
      if (filesystem.exists(to)) move(to, aside)
      if (filesystem.exists(from)) move(from, to)
    }
    if (filesystem.exists(journal)) {
      val in = filesystem.open(journal)
      val replaced = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
      replaced.filter(n => !filesystem.exists(part(target, n)) && filesystem.exists(part(old, n)))
        .foreach(n => move(part(old, n), part(target, n)))
    }
    clean()
    val w = df.write.options(options).mode("overwrite")
    (if (df.columns.contains("date")) w.partitionBy("date") else w).parquet(stage.toString)
    val parts = dates match {
      case None => Seq(".")
      case Some(ds) =>
        val named   = ds.map(d => s"date=$d").distinct
        // anything but a named `date=` directory or a marker (`_SUCCESS`)
        val outside = filesystem.listStatus(stage).map(_.getPath.getName)
          .filterNot(n => named.contains(n) || n.startsWith("_") || n.startsWith("."))
        if (outside.nonEmpty) clean()
        require(outside.isEmpty,
          s"overwrite of $layer.$table wrote ${outside.mkString(", ")} outside its dates")
        filesystem.mkdirs(target)
        filesystem.mkdirs(old)
        named
    }
    val out = filesystem.create(journal, true)
    try out.write(parts.filter(n => filesystem.exists(part(stage, n))).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    parts.foreach(n => swap(part(stage, n), part(target, n), part(old, n)))
    clean()
  }

  /** Keyed `MERGE INTO layer.table USING source ON keys`, insert-only or
    * newer-wins on `version`: the only code that decides which rows of a
    * keyed batch land and what that rewrites.
    *  1. A `source` row is pending when the table lacks its key or, with
    *     `version`, holds it only at a strictly older version (ties keep
    *     the table's row, so a replayed batch lands nothing).
    *  2. `prepare` runs on the pending rows and keeps the columns it does
    *     not derive; then one row per key, the newest version if any.
    *  3. The rows are persisted, one collect gives the dates the commit
    *     touches (the rows' and the replaced versions'), and
    *     `beforeCommit(rows, dates)` runs. An empty batch stops here.
    *  4. No version replaced: one append. Otherwise one dated
    *     [[overwrite]] of those dates, `target[dates]` minus the batch's
    *     keys plus the batch, so a date the batch moved every key off is
    *     deleted (a table without `date` is replaced whole). Returns the
    *     dates.
    */
  def merge(
      source: DataFrame,
      layer: String,
      table: String,
      keys: Seq[String],
      version: Option[String] = None,
      prepare: DataFrame => DataFrame = identity,
      beforeCommit: (DataFrame, Seq[java.sql.Date]) => Unit = (_, _) => ()
  ): Seq[java.sql.Date] = {
    val target  = Option.when(exists(layer, table))(load(layer, table))
    val keyCols = keys.map(col)
    def dateOf(df: DataFrame) = if (df.columns.contains("date")) col("date") else lit(null).cast("date")
    // (version, date) the table holds a key at, null for a new key; only
    // a versioned merge into an existing table carries it
    val held    = "__merge_held"
    val pending = (target, version) match {
      case (Some(t), None) => source.join(t.select(keyCols: _*), keys, "left_anti")
      case (Some(t), Some(v)) =>
        source.join(t.select(keyCols :+ struct(col(v).as("v"), dateOf(t).as("date")).as(held): _*),
          keys, "left").where(col(held).isNull || col(v) > col(s"$held.v"))
      case (None, _) => source
    }
    val batch = version.fold(prepare(pending).dropDuplicates(keys)) { v =>
      val newest = org.apache.spark.sql.expressions.Window.partitionBy(keyCols: _*).orderBy(col(v).desc)
      prepare(pending).withColumn("__merge_rn", row_number().over(newest))
        .where(col("__merge_rn") === 1).drop("__merge_rn")
    }.persist()
    try {
      // distinct (date, replaced version's date, replaces) of the batch
      val marks = (if (!batch.columns.contains(held)) batch.select(dateOf(batch))
        else batch.select(dateOf(batch), col(s"$held.date"), col(held).isNotNull)).distinct().collect()
      val dates = marks.toSeq.flatMap(_.toSeq.collect { case d: java.sql.Date => d })
        .distinct.sortBy(_.getTime)
      val rows = batch.drop(held)
      if (marks.nonEmpty) {
        beforeCommit(rows, dates)
        if (!marks.exists(_.toSeq.contains(true))) append(rows, layer, table)
        else {
          def merged(scope: DataFrame) =
            scope.join(rows.select(keyCols: _*), keys, "left_anti").unionByName(rows)
          if (!rows.columns.contains("date")) overwrite(merged(target.get), layer, table)
          else overwrite(merged(target.get.where(col("date").isin(dates: _*))), layer, table, dates)
        }
      }
      dates
    } finally batch.unpersist(false)
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
    * deterministic maxRecordsPerFile budget, committed by the dated
    * stage-and-swap of exactly the needy dates — readers never observe a
    * partial partition. Non-partitioned tables coalesce whole through
    * the same swap (they are snapshots, rewritten by their writers
    * anyway). Returns (filesBefore, filesAfter).
    */
  def compact(layer: String, table: String, targetBytes: Long = 128L << 20): (Long, Long) = {
    require(targetBytes > 0, "targetBytes must be positive")
    // a bucketed catalog table rewritten through the path-based
    // overwrite would silently lose its bucket layout (and the
    // zero-shuffle join property that justified it) — refuse instead
    require(!catalogEntryExists(layer, table),
      s"$layer.$table is a bucketed catalog table; re-bucket via overwriteBucketed instead of compact")
    val target = new Path(path(layer, table))
    val before = dataFiles(target).toSeq
    val df = load(layer, table)

    // rows-per-file budget from measured density: the files' bytes and
    // their footers' rows. The writer's maxRecordsPerFile split is
    // deterministic (ceil(rows / budget) files per partition dir) where a
    // hash-repartition file count is at the mercy of AQE coalescing and
    // bucket collisions. A per-write option, not the session conf, so
    // concurrent writers never see it.
    def budget(files: Seq[FileStatus]): Map[String, String] = {
      val rows        = files.map(rowsOf(_).rows).sum
      val avgRowBytes = math.max(1L, files.map(_.getLen).sum / math.max(1L, rows))
      Map("maxRecordsPerFile" -> math.max(1L, targetBytes / avgRowBytes).toString)
    }

    if (df.columns.contains("date")) {
      val needy = before.groupBy(_.getPath.getParent.getName).toSeq.flatMap { case (dir, fs) =>
        val bytes      = fs.map(_.getLen).sum
        val ideal      = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
        val fragmented = fs.size > ideal || fs.exists(_.getLen > targetBytes + targetBytes / 2)
        // skip non-date dirs (hive null-partition etc.) rather than guess
        if (fragmented) Warehouse.partitionDate(dir).map(_ -> fs) else None
      }
      if (needy.nonEmpty) {
        val needyDates = needy.map(_._1)
        // one task per needy day (AQE may merge small days — harmless:
        // the writer still splits by partition dir); the swap replaces
        // ONLY these partitions
        replace(df.where(col("date").isin(needyDates: _*)).repartition(col("date")), layer, table,
          Some(needyDates), budget(needy.flatMap(_._2)))
      }
    } else {
      replace(df.coalesce(1), layer, table, None, budget(before))
    }
    (before.size.toLong, dataFiles(target).size.toLong)
  }
}

object Warehouse {

  /** A data file of a table: its path, its length in bytes and the rows
    * its parquet footer records.
    */
  final case class FileRows(path: org.apache.hadoop.fs.Path, bytes: Long, rows: Long) {

    /** The date of the `date=` directory the file lies in; None outside
      * one, and in the null partition (`date=__HIVE_DEFAULT_PARTITION__`).
      */
    def date: Option[java.sql.Date] = partitionDate(path.getParent.getName)
  }

  /** The date a `date=` directory name holds; None for any other name,
    * the null partition included.
    */
  private def partitionDate(dir: String): Option[java.sql.Date] =
    Option.when(dir.startsWith("date="))(dir.stripPrefix("date="))
      .flatMap(d => scala.util.Try(java.sql.Date.valueOf(d)).toOption)
}
