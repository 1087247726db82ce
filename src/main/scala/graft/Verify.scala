package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query names (iteration aid)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, q) => (s, o, Some(q.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // sketch aggregates (MinHashAgg, TopKAgg) need the hash regime well
      // past the 128-group ObjectHashAggregate default (see Dedup scaladoc)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Enumerate EVERY query and record failures explicitly: a query that
    // errors must surface as an `errors.json` entry and a non-zero exit,
    // never as a silently-missing output dir (round-8's 11 events-query
    // failures shrank the correctness artifact from 90 to 79 entries
    // without any red signal — ADVICE r8).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try graft.builder.Materialize.scope(fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
      }
    }
    // the oracle SQL of exactly the queries run, so a subset run compares
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSqlJson(only))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${api.Json.str(k)}:${api.Json.str(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[verify] ${errors.size} quer(ies) FAILED: " +
        errors.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
