package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Table-layout writer for scan-efficiency at rest. Hive partitioning
  * prunes DIRECTORIES (coarse, categorical); within each partition,
  * per-file sorting is what makes parquet row-group min/max statistics
  * selective, so point/range predicates on the sort key skip whole row
  * groups at scan time — the data-skipping layer under partition
  * pruning, and the difference between reading 1% and 100% of a
  * partition at 100 TB.
  */
object Layout {

  /** Write `df` hive-partitioned by `partitionCols` with files SORTED
    * on `sortCols` inside each partition: one RANGE shuffle on
    * (partition keys ++ sort keys), then a partition-local sort (no
    * global ordering — row-group stats only need per-file
    * monotonicity).
    *
    * Range-partitioning on the full clustering key — not hashing the
    * partition key alone — is the skew defense: hashing only the
    * partition key funnels every row of a hot partition value (a
    * lang='en' holding 80% of a corpus) through ONE task and into ONE
    * giant file; ranging on partition+sort keys splits that value
    * across many tasks at sort-key boundaries, so each file still
    * covers a narrow, stats-friendly sort-key range but no task ever
    * owns a whole hive partition. `numFiles` bounds total output files
    * (default: `spark.sql.shuffle.partitions`).
    */
  def writeClustered(df: DataFrame, path: String,
                     partitionCols: Seq[String],
                     sortCols: Seq[String],
                     numFiles: Option[Int] = None,
                     bloomFilterCols: Seq[String] = Nil): Unit = {
    require(partitionCols.nonEmpty && sortCols.nonEmpty,
      "need at least one partition column and one sort column")
    val keys = (partitionCols ++ sortCols).map(col)
    // parquet bloom filters complement the sort: min/max row-group
    // stats skip on the SORT keys, blooms skip point lookups on
    // high-cardinality columns the sort doesn't cover (doc ids, url
    // hashes) — the third data-skipping lever after partition pruning
    // and clustering, all encoded at write time
    val writer = bloomFilterCols.foldLeft(
      numFiles.map(n => df.repartitionByRange(n, keys: _*))
        .getOrElse(df.repartitionByRange(keys: _*))
        .sortWithinPartitions(keys: _*)
        .write.mode("overwrite")) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    writer.partitionBy(partitionCols: _*).parquet(path)
  }

  /** Z-order (Morton) clustering value for TWO numeric columns: each
    * value min-max-scales to `bits` bits (one tiny stats pass), then
    * the bit planes interleave — files sorted by the result stay
    * narrow in BOTH dimensions, so row-group min/max stats skip for
    * predicates on EITHER column (a linear sort buys skipping on its
    * leading key only; the classic OPTIMIZE ZORDER trade). 2·bits ≤ 62
    * keeps the value sign-safe in a long.
    */
  def zOrderValue(a: org.apache.spark.sql.Column,
                  b: org.apache.spark.sql.Column,
                  aMin: Long, aMax: Long, bMin: Long, bMax: Long,
                  bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(bits > 0 && bits <= 31, "bits must be in 1..31")
    val top = (1L << bits) - 1
    def scale(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      if (hi == lo) lit(0L)
      // scale in double: (x-lo)*top in LONG silently wraps once the
      // column range exceeds ~2^47 at bits=16 (epoch-micros easily
      // does); top fits in 31 bits so the double round-trip is exact
      else least(lit(top), greatest(lit(0L),
        ((c.cast("double") - lit(lo.toDouble)) * lit(top.toDouble)
          / lit((hi - lo).toDouble)).cast("long")))
    val sa = scale(a, aMin, aMax)
    val sb = scale(b, bMin, bMax)
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(sa, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(sb, i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

  /** Write `df` as parquet files clustered by the Z-order interleave
    * of `colA` and `colB`: one 1-row stats aggregate (driver-bounded),
    * a range shuffle on the z value, per-file sort — after which
    * selective predicates on EITHER column skip most row groups.
    * The two-dimensional complement of [[writeClustered]]'s linear
    * sort; `numFiles` bounds output files exactly like there.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    val s = df.agg(min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    // empty input or a column whose long cast is NULL (e.g. a uuid
    // string) yields NULL stats — fail with the cause, not a bare NPE
    // from Row.getLong; an empty frame is written as-is (nothing to
    // cluster)
    if (s.isNullAt(0) && df.isEmpty) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    require((0 to 3).forall(i => !s.isNullAt(i)),
      s"writeZOrdered: min/max of '$colA'/'$colB' not castable to " +
        "long (non-numeric column?) — cannot compute z-values")
    val z = zOrderValue(col(colA), col(colB),
      s.getLong(0), s.getLong(1), s.getLong(2), s.getLong(3), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-files compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files (append-heavy tables accumulate one
    * file per write — at 100 TB the resulting listing/open overhead
    * dominates scans long before data volume does). Swap semantics:
    * [[GenTable.replace]].
    */
  def compactDir(spark: org.apache.spark.sql.SparkSession, path: String,
                 targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(conf)
    val totalBytes = fs.getContentSummary(target).getLength
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    GenTable.replace(spark, path) { stage =>
      spark.read.parquet(path)
        .repartition(nFiles)
        .write.mode("overwrite").parquet(stage)
    }
  }
}
