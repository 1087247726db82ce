package graft

import org.scalatest.funsuite.AnyFunSuite

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The bench and oracle harness contract: one record per query, each with
  * its oracle SQL, and `graft.Bench`'s result line on stdout. */
class BenchContractSpec extends AnyFunSuite {

  test("the query table: 126 unique names, every one with oracle SQL, 6 timed twins") {
    val names = SparkEntry.table.map(_.name)
    assert(names.distinct.size === names.size, s"duplicate names: ${names.diff(names.distinct)}")
    assert(names.size === 126)
    assert(SparkEntry.table.filter(_.oracleSql.trim.isEmpty).map(_.name).isEmpty)
    assert(SparkEntry.table.count(_.timed.isDefined) === 6)
  }

  test("graft.Bench on one query exits 0 and prints the {\"metric\":…} line for that query") {
    // the forked test JVM's own classpath and --add-opens flags
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toList
    val opens = jvmArgs.zip(jvmArgs.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = (javaBin +: "-Xmx1g" +: opens) ++
      Seq("-cp", sys.props("java.class.path"), "graft.Bench")
    val cwd = Files.createTempDirectory("bench_contract").toFile
    val err = new java.io.File(cwd, "stderr.txt")
    val pb = new ProcessBuilder(cmd.asJava).directory(cwd)
      .redirectError(err)
    val env = pb.environment()
    env.put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    env.put("SPARK_GRAFT_ONLY", "s2_query_one")
    env.put("SPARK_GRAFT_SKIP_ORACLE", "1")
    env.put("SPARK_GRAFT_CPUS", "2")
    try {
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val rc = p.waitFor()
      def tail = scala.util.Try(Files.readString(err.toPath).takeRight(2000)).getOrElse("")
      assert(rc === 0, s"graft.Bench exited $rc; stderr tail:\n$tail")
      // chosen by its shape, not its position
      val line = out.linesIterator.map(_.trim).filter(_.startsWith("{\"metric\":")).toList.lastOption
      assert(line.isDefined, s"no {\"metric\":…} line on stdout:\n$out")
      val node = com.fasterxml.jackson.databind.json.JsonMapper.builder().build().readTree(line.get)
      assert(node.get("queries").fieldNames().asScala.toSet === Set("s2_query_one"))
      assert(!node.get("queries").get("s2_query_one").isNull, s"s2_query_one failed: ${line.get}")
      assert(node.get("md5_family_sec").size() === 0)
      assert(node.get("failed") === null)
    } finally {
      val walk = Files.walk(cwd.toPath)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }
  }
}
