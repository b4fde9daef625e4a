package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content digests that make pass outputs comparable. */
object Digest {
  def strings(xs: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(x => md.update((x + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Content digest of a table without collecting it: row count plus the
    * sum of per-row hashes. */
  def table(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }
}
