package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the `events.ts` dual-encoding contract (SparkEntry.events).
  *
  * The driver's testdata generator has shipped `ts` as parquet
  * TIMESTAMP(NANOS) (which Spark 4 reads only as LONG under
  * `nanosAsLong`) and as TIMESTAMP_MICROS (which Spark 4 reads natively
  * as TIMESTAMP_NTZ). Round 8 regression: the loader assumed the nanos
  * encoding and errored on the regenerated MICROS files, silently
  * killing all 11 events-based queries (ADVICE r8). This spec replays
  * the same logical events table through every encoding the loader
  * branches on — LongType nanos, TIMESTAMP_NTZ micros, and
  * instant-semantics TIMESTAMP — and asserts the events-backed queries
  * return identical rows from each.
  */
class EventsEncodingSpec extends SparkSpec {

  private def base: DataFrame = {
    val s = spark
    import s.implicits._
    // micros since epoch; values chosen so µs truncation is exact
    Seq(
      (1L, 1000000L, 10L, "click", 1.5, """{"k":17}"""),
      (2L, 2000000L, 10L, "view", 2.5, """{"k":3}"""),
      (3L, 1500000L, 11L, "click", 0.5, """{"k":8}"""),
      (4L, 2500000L, 11L, "buy", 9.0, """{"k":21}"""),
      (5L, 2500000L, 12L, "view", 4.0, """{"k":5}""")
    ).toDF("event_id", "us", "user_id", "event_type", "value", "props")
  }

  private def writeVariant(name: String, ts: org.apache.spark.sql.Column): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"events_$name").toString
    base.select(col("event_id"), ts.alias("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private val eventsQueries =
    Seq("window_latest_per_user", "window_running", "json_scalar_extract")

  test("events queries agree across nanos-long / micros-ntz / instant-timestamp ts encodings") {
    val nanosDir = writeVariant("nanos", (col("us") * 1000L).cast("long"))
    val ntzDir = writeVariant("ntz", timestamp_micros(col("us")).cast("timestamp_ntz"))
    val instDir = writeVariant("inst", timestamp_micros(col("us")))
    for (q <- eventsQueries) {
      val fn = SparkEntry.table.find(_.name == q).get.plan
      val ref = fn(spark, nanosDir).collect().map(_.toString).sorted.toSeq
      assert(ref.nonEmpty, s"$q returned no rows on the nanos encoding")
      for ((label, dir) <- Seq("ntz" -> ntzDir, "instant" -> instDir)) {
        val got = fn(spark, dir).collect().map(_.toString).sorted.toSeq
        assert(got === ref, s"$q diverged on the $label encoding")
      }
    }
  }
}
