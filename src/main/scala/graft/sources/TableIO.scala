package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** The engine's two-connection abstraction. The reference holds two
  * Laravel connections, "original" (source) and "target" (sink)
  * (src/DBT.php:17-19, 58-66); graft abstracts them as named-table
  * readers/writers so the same [[graft.operators.Transportor]] runs
  * over parquet directories, JDBC databases, or in-memory test
  * fixtures.
  */
trait TableIO {
  def readOriginal(table: String): DataFrame
  /** Read a pre-seeded table on the target side (reference
    * `setSeed` tables, src/DBT.php:560-562 — assumed populated). */
  def readTarget(table: String): DataFrame
  /** Write one target table. [[graft.operators.Transportor.runAndWrite]]
    * calls this (and the reads) concurrently from several threads, for
    * DISTINCT tables: an implementation must be safe under that, while
    * writes to one table never overlap. */
  def writeTarget(table: String, df: DataFrame): Unit
}

/** Parquet-directory-backed IO: `dir/<table>.parquet` per table —
  * the layout of the driver fixtures (/root/repo/TESTDATA.md).
  * Parquet scans give Catalyst column pruning + predicate pushdown
  * + partition-sized splits for free; at 100 TB this is the layout
  * that scales (splittable files, min/max row-group stats).
  */
final class ParquetDirIO(
    spark: SparkSession,
    originalDir: String,
    targetDir: String,
    writeMode: String = "overwrite",
    maxRecordsPerFile: Option[Long] = None,
    upsertKeys: Map[String, Seq[String]] = Map.empty,
    partitionCols: Map[String, Seq[String]] = Map.empty) extends TableIO {

  /** Source schemas already inferred, by path, with the modification
    * time of the table directory they were inferred at. Inferring a
    * parquet schema is a Spark job (a footer read); a plan reads one
    * source table for many map entries and refers, so each table pays
    * it once per IO and later reads pass the schema. A rewritten table
    * has a new directory modification time and is inferred afresh. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  def readOriginal(table: String): DataFrame = {
    val pathStr = s"$originalDir/$table.parquet"
    val path = new org.apache.hadoop.fs.Path(pathStr)
    // a missing table falls through to Spark's own error; a store that
    // reports no directory modification time (0) is never memoized
    val mtime = scala.util.Try(fs(path).getFileStatus(path).getModificationTime)
      .toOption.filter(_ > 0)
    mtime.flatMap(m => Option(schemas.get(pathStr)).filter(_._1 == m)) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(pathStr)
      case None =>
        val df = spark.read.parquet(pathStr)
        mtime.foreach(m => schemas.put(pathStr, (m, df.schema)))
        df
    }
  }
  def readTarget(table: String): DataFrame =
    spark.read.parquet(s"$targetDir/$table.parquet")

  private def fs(path: org.apache.hadoop.fs.Path) =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def writeTarget(table: String, df: DataFrame): Unit = {
    val pathStr = s"$targetDir/$table.parquet"
    val path = new org.apache.hadoop.fs.Path(pathStr)
    val staging = new org.apache.hadoop.fs.Path(s"$pathStr.__graft_staging")
    val f = fs(path)
    // Crash recovery from a previous interrupted swap (write staging →
    // delete target → rename staging): if the target is GONE but a
    // staging dir remains, the crash hit between delete and rename —
    // the staging dir holds the full merged result, so complete the
    // swap now (otherwise the no-target branch below would silently
    // rebuild the table from the incoming batch alone, dropping every
    // previously kept row). If BOTH exist, the crash hit before the
    // delete: the target is intact and the staging merge was never
    // committed — discard it and redo the merge fresh.
    if (upsertKeys.contains(table) && f.exists(staging)) {
      if (!f.exists(path))
        require(Publish.dir(f, staging, path), s"staging recovery failed for $pathStr")
      else
        f.delete(staging, true)
    }
    (upsertKeys.get(table), partitionCols.get(table)) match {
      case (Some(keys), Some(pCols)) if f.exists(path) =>
        // Partition-pruned copy-on-write merge: at 100 TB a daily
        // delta touches a sliver of partitions, and rewriting the
        // whole table for it (the unpartitioned branch below) is the
        // difference between a 10-minute and a 10-hour refresh. Only
        // the partitions the incoming batch lands in are read
        // (static pruning via an IN-list over the batch's distinct
        // partition tuples — collected, but bounded by the number of
        // TOUCHED partitions, not rows), merged against the batch,
        // and dynamically overwritten; untouched partitions' files
        // are never read, never rewritten.
        //
        // Contract: the partition columns must be STABLE under upsert
        // (a key may not move between partitions — the standard
        // lakehouse partitioned-merge constraint; a moved key's old
        // row would survive in its old partition). Crash posture:
        // dynamic overwrite commits per touched partition at job
        // commit; a crash mid-commit leaves a subset updated, and the
        // idempotent re-run converges — no staging dir needed.
        val touched = df.select(pCols.map(col): _*).distinct().collect()
        if (touched.isEmpty) return // empty delta: nothing to merge, touch nothing
        val touchedPred = touched.map { r =>
          pCols.zipWithIndex.map { case (c, i) => col(c) <=> lit(r.get(i)) }
            .reduce(_ && _)
        }.reduce(_ || _)
        val incomingKeys = df.select(keys.map(col): _*).distinct()
        val keep = readTarget(table).filter(touchedPred)
          .join(incomingKeys, keys, "left_anti")
        val merged = keep.unionByName(df, allowMissingColumns = true)
        val w = merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(pCols: _*)
        maxRecordsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
          .parquet(pathStr)
      case (_, Some(pCols)) =>
        // fresh or overwrite write of a partitioned table (also the
        // first write of an upsert table: nothing to merge yet)
        val w = df.write.mode(if (upsertKeys.contains(table)) "overwrite" else writeMode)
          .partitionBy(pCols: _*)
        maxRecordsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
          .parquet(pathStr)
      case (Some(keys), None) if f.exists(path) =>
        // Keyed upsert (re-runnable migrations — closes the
        // reference's transaction-wrapper gap, SURVEY §7.4, for
        // half-written re-runs): existing rows whose key matches an
        // incoming row are replaced, everything else kept. A direct
        // self-overwrite would corrupt (the scan feeding the write
        // reads the files being replaced), so the merge lands in a
        // staging dir first and swaps in via delete+rename.
        // allowMissingColumns: a re-run after the plan adds a column
        // null-fills the old rows (INSERT semantics) instead of
        // throwing.
        val incomingKeys = df.select(keys.map(col): _*).distinct()
        val keep = readTarget(table).join(incomingKeys, keys, "left_anti")
        val merged = keep.unionByName(df, allowMissingColumns = true)
        val w = merged.write.mode("overwrite")
        maxRecordsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
          .parquet(staging.toString)
        f.delete(path, true)
        require(Publish.dir(f, staging, path), s"staging swap failed for $pathStr")
      case _ =>
        // file sizing: at scale, both tiny-file storms (per-task
        // dribbles) and monolithic files (no scan parallelism) hurt —
        // cap records per file and let the writer split
        val w = df.write.mode(writeMode)
        maxRecordsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
          .parquet(pathStr)
    }
  }
}

/** Directory IO over any Spark DataSource format — the ingestion
  * shape for raw training-data corpora, where JSONL (`format="json"`)
  * is the lingua franca and CSV/ORC/text appear at the edges. Layout
  * mirrors [[ParquetDirIO]]: `dir/<table>.<ext>` per table.
  *
  * Scale notes: JSONL/CSV are splittable when uncompressed or
  * zstd/bzip2-compressed, so scans parallelize like parquet minus
  * column pruning/stats — use this for INGESTION and write parquet
  * out the other side (the default `writeFormat`). Malformed lines
  * are the norm in web-scale corpora: the default PERMISSIVE mode
  * nulls them instead of failing the job; pass an explicit schema
  * through `readOptions` + [[schemas]] to skip Spark's
  * whole-data inference pass, which at 100 TB is a full extra scan.
  */
final class FormatDirIO(
    spark: SparkSession,
    originalDir: String,
    targetDir: String,
    readFormat: String = "json",
    writeFormat: String = "parquet",
    readOptions: Map[String, String] = Map.empty,
    writeOptions: Map[String, String] = Map.empty,
    schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty,
    writeMode: String = "overwrite") extends TableIO {
  private def ext(fmt: String): String = if (fmt == "json") "jsonl" else fmt
  def readOriginal(table: String): DataFrame = {
    val r = spark.read.format(readFormat)
      .option("mode", "PERMISSIVE")
      .options(readOptions)
    schemas.get(table).fold(r)(r.schema)
      .load(s"$originalDir/$table.${ext(readFormat)}")
  }
  def readTarget(table: String): DataFrame =
    spark.read.format(writeFormat).options(writeOptions)
      .load(s"$targetDir/$table.${ext(writeFormat)}")
  def writeTarget(table: String, df: DataFrame): Unit =
    df.write.mode(writeMode).format(writeFormat).options(writeOptions)
      .save(s"$targetDir/$table.${ext(writeFormat)}")
}

/** In-memory IO for tests and for side-effect-free plan evaluation:
  * originals are fixed DataFrames, target writes land in a mutable
  * registry readable back as pre-seeded tables. The registry is read
  * and written under its own lock (concurrent writers, see
  * [[TableIO.writeTarget]]). */
final class InMemoryIO(
    original: Map[String, DataFrame],
    seededTarget: Map[String, DataFrame] = Map.empty,
    upsertKeys: Map[String, Seq[String]] = Map.empty) extends TableIO {
  val written: mutable.LinkedHashMap[String, DataFrame] = mutable.LinkedHashMap.empty
  def readOriginal(table: String): DataFrame =
    original.getOrElse(table,
      throw new NoSuchElementException(s"no original table '$table'"))
  def readTarget(table: String): DataFrame = written.synchronized {
    written.getOrElse(table, seededTarget.getOrElse(table,
      throw new NoSuchElementException(s"no target table '$table'")))
  }
  def writeTarget(table: String, df: DataFrame): Unit = written.synchronized {
    written(table) = upsertKeys.get(table) match {
      case Some(keys) =>
        // keyed upsert: matching rows replaced, others kept; a
        // pre-seeded table merges with its seed (a re-run against an
        // already-populated target is exactly the upsert use case)
        written.get(table).orElse(seededTarget.get(table)) match {
          case Some(cur) =>
            cur.join(df.select(keys.map(col): _*).distinct(), keys, "left_anti")
              .unionByName(df, allowMissingColumns = true)
          case None => df
        }
      case None =>
        // Same-target appends (aliased map entries, README.md:59-63)
        // accumulate via unionByName; a first write SHADOWS any seed
        // (historic append semantics, relied on by the specs).
        written.get(table).map(_.unionByName(df)).getOrElse(df)
    }
  }
}

/** JDBC-backed IO — the production shape of the reference's two
  * database connections (src/DBT.php:17-19). The reference paginates
  * with count + skip/take in 2000-row chunks (src/DBT.php:28,
  * 144-171); Spark replaces that with partitioned reads: when
  * `partitionColumn` bounds are configured for a table, the scan is
  * split into `numPartitions` range predicates executed by different
  * tasks — the cluster-scale replacement for single-threaded
  * chunking. `fetchSize`/`batchSize` tune per-roundtrip row counts
  * like the reference's `setChunk` (src/DBT.php:553-555).
  */
final class JdbcIO(
    spark: SparkSession,
    originalUrl: String,
    targetUrl: String,
    originalProps: Map[String, String] = Map.empty,
    targetProps: Map[String, String] = Map.empty,
    partitioning: Map[String, JdbcPartitioning] = Map.empty,
    fetchSize: Int = 10000,
    batchSize: Int = 10000,
    writeMode: String = "append",
    upsertKeys: Map[String, Seq[String]] = Map.empty) extends TableIO {

  private def props(m: Map[String, String]): java.util.Properties = {
    val p = new java.util.Properties()
    m.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  def readOriginal(table: String): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", originalUrl)
      .option("dbtable", table)
      .option("fetchsize", fetchSize.toString)
    val withProps = originalProps.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }
    partitioning.get(table) match {
      case Some(p) => withProps
        .option("partitionColumn", p.column)
        .option("lowerBound", p.lowerBound.toString)
        .option("upperBound", p.upperBound.toString)
        .option("numPartitions", p.numPartitions.toString)
        .load()
      case None => withProps.load()
    }
  }

  def readTarget(table: String): DataFrame =
    targetProps.foldLeft(
      spark.read.format("jdbc").option("url", targetUrl).option("dbtable", table)
    ) { case (r, (k, v)) => r.option(k, v) }.load()

  def writeTarget(table: String, df: DataFrame): Unit =
    upsertKeys.get(table) match {
      case Some(keys) => upsertWrite(table, df, keys)
      case None =>
        df.write.mode(writeMode)
          .option("batchsize", batchSize.toString)
          .jdbc(targetUrl, table, props(targetProps))
    }

  /** Keyed upsert via staging table + set-based delete-insert: the
    * batch lands in `<table>__graft_staging` through the normal
    * distributed JDBC write, then ONE driver-side transaction runs
    * `DELETE ... WHERE EXISTS (match on keys)` + `INSERT ... SELECT`
    * against the database — the merge itself is set-based SQL executed
    * by the DB engine (no per-row round trips, no driver-side data),
    * and a failure before COMMIT leaves the target untouched. This
    * closes the reference's transaction-wrapper gap (its
    * `DB::transaction` wrapper, src/TransportorTemp.temp:13-19;
    * SURVEY §7.4) for re-runnable migrations: a crashed half-written
    * run re-runs to the same final state instead of duplicating rows.
    * A missing target table degrades to a plain append (first run
    * creates it). */
  private def upsertWrite(table: String, df: DataFrame, keys: Seq[String]): Unit = {
    val conn = java.sql.DriverManager.getConnection(targetUrl, props(targetProps))
    // Existence probe via a zero-row SELECT, not getTables metadata:
    // unquoted identifiers fold differently per database (Derby/Oracle
    // uppercase, PostgreSQL lowercase, MySQL filesystem-dependent), so
    // a metadata lookup on a guessed case can silently miss and every
    // run would take the append path — duplicating rows, the exact
    // failure upsert exists to prevent. The SELECT resolves the name
    // through the same SQL path the merge statements use.
    val targetExists =
      try {
        val st = conn.createStatement()
        try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close(); true }
        finally st.close()
      } catch { case _: java.sql.SQLException => false }
    try {
      if (!targetExists) {
        df.write.mode("append")
          .option("batchsize", batchSize.toString)
          .jdbc(targetUrl, table, props(targetProps))
      } else {
        val staging = s"${table}__graft_staging"
        df.write.mode("overwrite")
          .option("batchsize", batchSize.toString)
          .jdbc(targetUrl, staging, props(targetProps))
        // Spark's JDBC writer creates columns as case-preserving
        // QUOTED identifiers; unquoted names would case-normalize and
        // miss them, so quote the keys exactly as the frame spells
        // them. The INSERT lists columns EXPLICITLY in frame order on
        // both sides — a positional `SELECT *` would silently
        // misassign when a pre-existing target's column order differs
        // from the frame's.
        val cols = df.schema.fieldNames.map(c => s""""$c"""").mkString(", ")
        val matchPred = keys.map(k => s"""s."$k" = $table."$k"""").mkString(" AND ")
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          st.executeUpdate(
            s"DELETE FROM $table WHERE EXISTS (SELECT 1 FROM $staging s WHERE $matchPred)")
          st.executeUpdate(s"INSERT INTO $table ($cols) SELECT $cols FROM $staging")
          conn.commit()
          st.executeUpdate(s"DROP TABLE $staging")
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally st.close()
      }
    } finally conn.close()
  }
}

object JdbcIO {
  /** Register Spark's DSv2 JDBC table catalog over `url` as catalog
    * `name`, aggregate and limit pushdown enabled — tables then read
    * as `spark.table(s"$name.<SCHEMA>.<TABLE>")` and a
    * refers-style lookup aggregation (GROUP BY key + MIN/MAX/SUM/
    * COUNT/AVG) compiles into the source database's SQL instead of
    * hauling the raw lookup table over the wire (`PushedAggregates`
    * in the scan — JdbcIOSpec pins it on Derby).
    *
    * This is a separate door from [[JdbcIO.readOriginal]] on
    * purpose: the V1 `format("jdbc")` relation carries the
    * range-partitioned parallel scan (`partitionColumn`/bounds),
    * which the V2 catalog path does not, and V1 CANNOT push
    * aggregates (its pushdown interface stops at filters/columns).
    * Pick per table: big fact extracts want the V1 parallel range
    * scan; lookup aggregations want the V2 aggregate pushdown. */
  def registerV2Catalog(
      spark: SparkSession,
      name: String,
      url: String,
      options: Map[String, String] = Map.empty): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.url", url)
    spark.conf.set(s"spark.sql.catalog.$name.pushDownAggregate", "true")
    spark.conf.set(s"spark.sql.catalog.$name.pushDownLimit", "true")
    options.foreach { case (k, v) =>
      spark.conf.set(s"spark.sql.catalog.$name.$k", v)
    }
  }
}

/** Range-partitioning spec for one JDBC source table. */
final case class JdbcPartitioning(
    column: String, lowerBound: Long, upperBound: Long, numPartitions: Int)

/** Bucketing spec: hash-bucket (and optionally sort) a table on its
  * join key at write time. */
final case class BucketSpec(columns: Seq[String], numBuckets: Int,
    sortColumns: Seq[String] = Nil)

/** Catalog-table IO with bucketing: tables written through
  * `bucketBy(...).saveAsTable` and read back via `spark.table`.
  *
  * Scale rationale: two tables bucketed on the same key with the same
  * bucket count join WITHOUT a shuffle — the physical plan has no
  * Exchange on either side (verified in BucketedIOSpec). For the
  * repeated-join workloads the transport engine produces (fact tables
  * refer-joined to the same dimensions run after run), paying one
  * bucketed write amortizes every subsequent join's shuffle away.
  * Tables without a spec write as plain catalog parquet tables.
  */
final class BucketedCatalogIO(
    spark: SparkSession,
    buckets: Map[String, BucketSpec] = Map.empty,
    writeMode: String = "overwrite") extends TableIO {
  def readOriginal(table: String): DataFrame = spark.table(table)
  def readTarget(table: String): DataFrame = spark.table(table)
  def writeTarget(table: String, df: DataFrame): Unit = {
    val w = df.write.mode(writeMode).format("parquet")
    buckets.get(table) match {
      case Some(b) =>
        val bucketed = w.bucketBy(b.numBuckets, b.columns.head, b.columns.tail: _*)
        val sorted =
          if (b.sortColumns.nonEmpty) bucketed.sortBy(b.sortColumns.head, b.sortColumns.tail: _*)
          else bucketed
        sorted.saveAsTable(table)
      case None => w.saveAsTable(table)
    }
  }
}

/** Composite IO: overlay derived/virtual original tables (e.g. a
  * query-built DataFrame) over a base IO. */
final class OverlayIO(base: TableIO, overlays: Map[String, DataFrame]) extends TableIO {
  def readOriginal(table: String): DataFrame =
    overlays.getOrElse(table, base.readOriginal(table))
  def readTarget(table: String): DataFrame = base.readTarget(table)
  def writeTarget(table: String, df: DataFrame): Unit = base.writeTarget(table, df)
}
