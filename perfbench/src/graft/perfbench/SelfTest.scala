package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path

/** Shows that the correctness checks can fail: each workload runs a short
  * timed phase, its check must pass, then each output is corrupted in turn
  * and the check must report it. Also shows that one seed regenerates
  * byte-identical inputs and another seed does not. */
object SelfTest {
  private def inputs(seed: Long): String = {
    val c = new Corpus(seed, 500)
    val deltas = (1 to 3).map(_ => c.delta(10, 7, 3))
    (c.everSeen.map(_.json) ++ deltas.map { case (u, d) => u.map(_.json).mkString + d.mkString(",") })
      .mkString("\n")
  }

  def run(spark: SparkSession, dir: Path): Int = {
    val results = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    def expect(what: String, ok: Boolean): Unit = {
      results += what -> ok
      println(s"  ${if (ok) "ok  " else "FAIL"} $what")
    }
    val a = inputs(11); val b = inputs(11); val c = inputs(12)
    expect("same seed regenerates byte-identical inputs", a == b)
    expect("another seed generates different inputs", a != c)

    def ctx(name: String) = new Ctx(spark, new Tracer(spark, Mode.Off), dir.resolve(name), 5, 1)
    def prepared[W <: Workload](w: W): W = { w.setup(); w.warmup(); w.run(); w }

    val incr = prepared(new IncrBuild(ctx("incr_build")))
    expect("incr_build check passes on the real outputs", incr.check().isEmpty)
    incr.corrupt()
    expect("incr_build check fails on a corrupted target", incr.check().nonEmpty)

    val ingest = prepared(new IngestServe(ctx("ingest_serve")))
    expect("ingest_serve check passes on the real outputs", ingest.check().isEmpty)
    ingest.corruptRead()
    expect("ingest_serve check fails on a stale byKey read", ingest.check().nonEmpty)
    val fresh = prepared(new IngestServe(ctx("ingest_serve2")))
    fresh.corruptStore()
    expect("ingest_serve check fails on a corrupted final store", fresh.check().nonEmpty)
    ingest.close(); fresh.close()

    val failed = results.count(!_._2)
    println(s"selftest: ${results.size - failed} of ${results.size} expectations held")
    if (failed == 0) 0 else 1
  }
}
