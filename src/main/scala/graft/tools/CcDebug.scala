package graft.tools

import org.apache.spark.sql.functions._

/** Scratch harness for [[graft.operators.Dedup.duplicateClusters]] round
  * behavior: a path graph 0-1-...-(n-1) has diameter n-1, the worst case
  * for min-label propagation — the hybrid in `duplicateClusters` runs a
  * few propagation rounds then hands the residual edges to large-star /
  * small-star contraction (Kiveris et al.), which converges in O(log n)
  * star rounds where plain propagation needs ~n. The per-round trace is
  * the `cc.prop_round` / `cc.star_round` debug events of the
  * `graft.operators` logger, which this harness enables:
  * `tools/run_main.sh graft.tools.CcDebug [n]`. */
object CcDebug {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(30)
    val spark = graft.engine.GraftSession.local(8, "cc-debug")
    spark.sparkContext.setLogLevel("ERROR")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.operators", org.apache.logging.log4j.Level.DEBUG)
    import spark.implicits._
    val pairs = spark.range(n - 1)
      .select(col("id").as("d1"), (col("id") + 1).as("d2"))
    val out = graft.operators.Dedup.duplicateClusters(pairs)
    val bad = out.filter(col("keeper") =!= 0L).count()
    println(s"[ccdebug] n=$n nonzero_keepers=$bad (expect 0)")
    spark.stop()
  }
}
