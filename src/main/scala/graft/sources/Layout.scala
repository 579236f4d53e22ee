package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout helpers for scan pruning — the write-side half of the
  * 100 TB story: parquet skips row groups by min/max statistics, so
  * a table FILTERED on two columns prunes well only if the data is
  * CLUSTERED on both at once. Sorting on (a, b) clusters a perfectly
  * and b not at all; interleaving the bits of a and b (Z-order /
  * Morton order) clusters both, which is what keeps
  * `WHERE a BETWEEN ... AND b BETWEEN ...` reading a small fraction
  * of files instead of all of them.
  */
object Layout {

  /** The Z-value (Morton code) of two non-negative integer columns:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1 —
    * `bits` low bits of each are interleaved (16 by default; 2·bits
    * must fit a long). Pure codegen'd shift/mask builtins — no UDF —
    * and integer-exact, so the DuckDB oracle reproduces it with the
    * same shift arithmetic. Rank values beyond `bits` bits before
    * interleaving (percent_rank·2^bits) rather than widening.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(
          shiftrightunsigned(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(
          shiftrightunsigned(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Range-partition a frame by the Z-value of two columns — the
    * layout to WRITE with when downstream scans filter on both
    * columns. `repartitionByRange` samples the z-values and assigns
    * contiguous z-ranges to partitions, so each output file covers a
    * small rectangle of (a, b) space and parquet min/max stats prune
    * it; a plain sort-by-(a,b) layout prunes only the leading column.
    * One range shuffle at write time buys every future scan's
    * pruning — the standard warehouse trade. */
  def zOrderByRange(
      df: DataFrame,
      colA: String,
      colB: String,
      numPartitions: Int,
      bits: Int = 16): DataFrame = {
    require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
    df.withColumn("__z", zValue(col(colA), col(colB), bits))
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Zone-map manifest of a written parquet directory: one row per
    * data file with its row count and per-column min/max — the
    * file-level statistics index a table format (or a scan planner
    * with no footer access) uses to prune files before opening them.
    * Pairs with [[zOrderByRange]]: a well-clustered layout shows
    * tight, barely-overlapping [min, max] rectangles; a random
    * layout shows every file spanning the whole domain, i.e. zero
    * pruning. `file_idx` is the part index parsed from the file name
    * (stable across rewrites; the writer UUID in the basename is
    * not).
    *
    * Scale posture: embarrassingly parallel — one scan, the grouping
    * key is the split's own file, so the aggregate is map-side-total
    * per file and the shuffle carries one row per (file, stats). */
  def zoneMaps(df: DataFrame, statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "zoneMaps needs at least one column")
    val aggs = statCols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    }
    df.groupBy(regexp_extract(input_file_name(), "part-(\\d+)", 1)
        .cast("int").as("file_idx"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Zone-map file skipping — the read-side payoff of [[zOrderByRange]]
    * + [[zoneMaps]]: given a manifest and a range predicate
    * `lo <= c <= hi`, the manifest rows whose [min_c, max_c] interval
    * can intersect it — i.e. the files a scan must actually read.
    * Files whose stats are NULL (all-NULL column) are conservatively
    * kept. Pure metadata: the decision runs over one row per data
    * file, never the data; on a z-ordered layout the survivor set is
    * the point of the layout (tight interleaved zones ⇒ most files
    * eliminated on either dimension). */
  def pruneFiles(manifest: DataFrame, c: String, lo: Column, hi: Column): DataFrame =
    manifest.filter(
      col(s"min_$c").isNull || col(s"max_$c").isNull ||
        (col(s"max_$c") >= lo && col(s"min_$c") <= hi))

  /** Small-file compaction plan over a [[zoneMaps]]-style manifest:
    * files ordered by their clustering key (`orderCol`, ties on
    * `fileCol`) are grouped into consecutive runs of ~`target` units
    * (bytes, rows — whatever `sizeCol` measures): a file opens a new
    * merge group exactly when the cumulative size BEFORE it crosses a
    * multiple of `target`. Grouping ADJACENT files in clustering
    * order is the point — the merged files' [min, max] zones stay
    * tight, so compaction never undoes the pruning the layout paid
    * for. Integer `div` end to end: the plan is deterministic and the
    * oracle replays it exactly.
    *
    * Scale posture: the input is file-level METADATA (one row per
    * data file — ~10^5-10^6 rows for a 100 TB table), so the single
    * global-order window this runs is a deliberate, documented
    * exception to the no-global-sort rule; planning output feeds a
    * rewrite job, it is not itself a data-scale operator. */
  def compactionPlan(
      manifest: DataFrame,
      fileCol: String,
      sizeCol: String,
      orderCol: String,
      target: Long): DataFrame = {
    require(target > 0, s"target must be positive, got $target")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(orderCol), col(fileCol))
    // collision-checked temp name (a manifest column literally named
    // __cum must survive) + backtick-quoted identifiers in the one
    // expr() string, so size columns with spaces/dots/backticks parse
    // and resolve correctly
    val cum = Iterator.from(0).map(i => s"__cum$i")
      .find(n => !manifest.columns.contains(n)).get
    val sizeQ = "`" + sizeCol.replace("`", "``") + "`"
    manifest
      .withColumn(cum, sum(col(sizeCol).cast("long")).over(w))
      .withColumn("merge_group",
        expr(s"(`$cum` - CAST($sizeQ AS BIGINT)) div ${target}L"))
      .drop(cum)
  }

  /** EXECUTE a [[compactionPlan]] over a parquet directory: each merge
    * group's part files rewrite into ONE file, internally re-sorted on
    * the clustering key, written to `outDir` — the planning half's
    * missing other half (plan → rewrite). The caller swaps `outDir`
    * in (the [[ParquetDirIO]] staging-swap discipline) — this function
    * never touches `dir`, so a crash mid-compaction loses nothing.
    *
    * Output files are named `part-NNNNN-compacted.parquet` with NNNNN
    * = the merge group id, so [[zoneMaps]]' `part-(\\d+)` index parse
    * keeps working on the compacted layout and the file order IS the
    * clustering order (adjacent groups stay adjacent — the property
    * the whole plan exists to preserve).
    *
    * Scale posture: the plan is file-level metadata (bounded collect);
    * each group rewrite reads only its own files and sorts ~`target`
    * units in one task (that is what `target` is — the intended file
    * size). Groups rewrite independently; run them through a pool for
    * a large backlog (the [[graft.operators.Transportor.runAndWrite]]
    * pattern) — sequential here keeps the executor simple and the
    * memory bound explicit. Returns the number of files written. */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      outDir: String,
      plan: DataFrame,
      orderCol: String,
      fileIdxCol: String = "file_idx"): Int = {
    val rows = plan.select(col(fileIdxCol).cast("int"), col("merge_group").cast("long"))
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    require(rows.nonEmpty, "compact: empty plan")
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val f = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxToPath: Map[Int, String] = f.listStatus(dirPath).toSeq
      .map(_.getPath)
      .flatMap { p =>
        "part-(\\d+)".r.findFirstMatchIn(p.getName)
          .map(m => m.group(1).toInt -> p.toString)
      }.toMap
    val missing = rows.map(_._1).filterNot(idxToPath.contains)
    require(missing.isEmpty,
      s"compact: plan names file indices absent from $dir: ${missing.mkString(", ")}")
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    f.mkdirs(outPath)
    val groups = rows.groupBy(_._2).toSeq.sortBy(_._1)
    groups.foreach { case (g, members) =>
      val paths = members.map(m => idxToPath(m._1)).sorted
      val staging = new org.apache.hadoop.fs.Path(s"$outDir/.__graft_compact_$g")
      spark.read.parquet(paths: _*)
        .coalesce(1)
        .sortWithinPartitions(orderCol)
        .write.mode("overwrite").parquet(staging.toString)
      val written = f.listStatus(staging).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
      require(written.length == 1,
        s"compact: group $g produced ${written.length} files, expected 1")
      require(Publish.dir(f, written.head,
        new org.apache.hadoop.fs.Path(f"$outDir/part-$g%05d-compacted.parquet")),
        s"compact: rename failed for group $g")
      f.delete(staging, true)
    }
    groups.size
  }
}
