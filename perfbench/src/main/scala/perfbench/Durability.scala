package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** Durability check of the geo workload's ingest table, run in a fresh JVM: read the final
  * table from disk only (no cache of the writing process can answer) and
  * compare it with the model the writer left behind.
  * `perfbench.Durability <expect.json> <out.json>`
  */
object Durability {
  def main(a: Array[String]): Unit = {
    val expect = Json.read(Paths.get(a(0)))
    def long(k: String): Long = expect(k).asInstanceOf[Number].longValue
    val want = Digest(long("count"), long("sum"), long("xor"))
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Paths.get("spark-local-durability").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = try {
      val got = IngestPhase.digestOf(spark.read.format("graft").load(expect("path").toString))
      if (got == want) Map("ok" -> true, "rows" -> got.count)
      else Map("ok" -> false, "error" -> s"fresh read $got, model $want")
    } catch {
      case scala.util.control.NonFatal(e) => Map("ok" -> false, "error" -> s"threw ${Client.describe(e)}")
    }
    Json.write(Paths.get(a(1)), out)
    spark.stop()
  }
}
