package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[IndexFiles.footerStats]] — the segment statistics the versioned store
  * stamps into every manifest, folded from parquet footers on the driver —
  * against the full scan it replaced: the same row count and the same
  * min/max for every integral type, through nulls, an all-null column, an
  * empty segment and a segment of several files with several row groups
  * each. A row group without min/max must leave its column unbounded. */
class FooterStatsSpec extends AnyFunSuite {
  import graft.TestSpark._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private val intCols = Seq("b", "s", "i", "l", "none")

  // every 7th row null in each typed column; `none` is null in every row
  private def typed(n: Int): DataFrame =
    spark.range(0, n).select(
      when(col("id") % 7 =!= 0, (col("id") % 100 - 50).cast("byte")).as("b"),
      when(col("id") % 7 =!= 1, (col("id") * 3 - 20000).cast("short")).as("s"),
      when(col("id") % 7 =!= 2, (col("id") * 1001 - 1000000).cast("int")).as("i"),
      when(col("id") % 7 =!= 3, col("id") * 1000003L - 5000000000L).as("l"),
      lit(null).cast("int").as("none"),
      concat(lit("row "), col("id")).as("text"))

  // the scan the footers replace: count plus min/max per integral column,
  // a null bound (empty or all-null) meaning "no bound"
  private def scanned(dir: String): IndexFiles.FooterStats = {
    val aggs = count(lit(1)).cast("long") +: intCols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val row = spark.read.parquet(dir).agg(aggs.head, aggs.tail: _*).collect().head
    def bound(i: Int) = intCols.zipWithIndex.flatMap { case (c, j) =>
      if (row.isNullAt(i + 2 * j)) None else Some(c -> row.getLong(i + 2 * j))
    }.toMap
    IndexFiles.FooterStats(row.getLong(0), bound(1), bound(2))
  }

  private def rowGroups(dir: String): Seq[Int] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-"))
      .map { f =>
        val in = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), spark.sessionState.newHadoopConf()))
        try in.getFooter.getBlocks.size finally in.close()
      }

  test("footer stats equal a full scan: byte/short/int/long, nulls, an all-null column") {
    val dir = s"${scratch("fs_one")}/seg"
    typed(500).coalesce(1).write.parquet(dir)
    val got = IndexFiles.footerStats(spark, dir)
    assert(got == scanned(dir))
    assert(got.rows == 500L)
    assert(got.min.keySet == Set("b", "s", "i", "l")) // `none` is unbounded
  }

  test("footer stats equal a full scan over several files of several row groups each") {
    val dir = s"${scratch("fs_multi")}/seg"
    typed(6000).repartition(3).write
      .option("parquet.block.size", "2048").parquet(dir)
    val groups = rowGroups(dir)
    assert(groups.size == 3 && groups.forall(_ > 1),
      s"fixture must span several files of several row groups: $groups")
    assert(IndexFiles.footerStats(spark, dir) == scanned(dir))
  }

  test("an empty segment written from an empty plan reads as zero rows, no bounds") {
    val dir = s"${scratch("fs_empty")}/seg"
    typed(50).filter(lit(false)).write.parquet(dir)
    val got = IndexFiles.footerStats(spark, dir)
    assert(got == IndexFiles.FooterStats(0L, Map.empty, Map.empty))
    assert(got == scanned(dir))
  }

  test("a row group without min/max leaves its column unbounded") {
    val dir = s"${scratch("fs_nostats")}/seg"
    typed(300).coalesce(1).write.parquet(dir)
    // a second file whose writer kept no column statistics
    typed(300).withColumn("l", col("l") + 1000000000000L).coalesce(1).write
      .mode("append").option("parquet.column.statistics.enabled", "false").parquet(dir)
    val got = IndexFiles.footerStats(spark, dir)
    assert(got.rows == 600L)
    assert(got.min.isEmpty && got.max.isEmpty,
      s"a bound folded from only the first file would hide the second's rows: $got")
  }
}
