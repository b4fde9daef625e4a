package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-point sweep ([[CrashSweep]]) of the aggregate state's entry
  * points; the state compared is the merged read and the tag statuses,
  * the repair [[IndexRepair.repairAggState]]. */
class AggStateCrashSpec extends CrashSweep[(Seq[Seq[Any]], Seq[Seq[String]])] {
  import graft.TestSpark._
  import spark.implicits._

  private val g = Seq("g")
  private val v = Seq("v")
  private lazy val base = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("g", "v")
  private lazy val b1 = Seq(("a", 10L), ("c", 5L)).toDF("g", "v")
  private lazy val b2 = Seq(("b", 7L), ("c", 1L)).toDF("g", "v")

  protected def state(dir: String): (Seq[Seq[Any]], Seq[Seq[String]]) = (
    AggState.readAggState(spark, dir, g, v).orderBy("g").collect().map(_.toSeq.toVector).toSeq,
    VersionedStore.snapshot(spark, dir).driverRows("tags", "tag", "status").sortBy(_.head))

  protected def violations(dir: String): Long =
    IndexFsck.checkAggState(spark, dir).agg(sum("violations")).head().getLong(0)

  protected def repair(dir: String): Unit =
    IndexRepair.repairAggState(spark, dir).collect()

  private def write(dir: String, df: DataFrame = base): Unit =
    AggState.writeAggState(df, dir, g, v)

  test("crash sweep: writeAggState into a fresh directory, every driver call") {
    sweep("write_fresh")(_ => ())(write(_))
  }

  test("crash sweep: writeAggState rebuilding in place, every driver call") {
    sweep("write_in_place") { d =>
      write(d); AggState.foldAggState(b1, d, "b1", g, v)
    }(write(_, base.unionAll(b2)))
  }

  test("crash sweep: foldAggState, every driver call") {
    sweep("fold") { d =>
      write(d); AggState.foldAggState(b1, d, "b1", g, v)
    }(AggState.foldAggState(b2, _, "b2", g, v))
  }

  test("crash sweep: compactAggState, every driver call") {
    sweep("compact") { d =>
      write(d); AggState.foldAggState(b1, d, "b1", g, v); AggState.foldAggState(b2, d, "b2", g, v)
    }(AggState.compactAggState(spark, _, g, v))
  }

  test("crash sweep: retractAggState, every driver call") {
    sweep("retract") { d =>
      write(d); AggState.foldAggState(b1, d, "b1", g, v); AggState.foldAggState(b2, d, "b2", g, v)
    }(AggState.retractAggState(spark, _, "b1", g, v))
  }
}
