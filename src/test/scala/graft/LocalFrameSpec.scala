package graft

import graft.functions.{TopKAgg, TopKStrAgg}
import graft.query.LocalFrame
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.SplittableRandom

/** The driver evaluator computes a plan over local relations exactly as
  * Spark runs it: each plan of a fixed menu, over seeded small frames
  * (nulls, NaN, -0.0, duplicate keys, empty inputs), collects through
  * [[LocalFrame.collect]] to the rows the same plan collects over a
  * `repartition(2)` copy, doubles compared bit for bit. */
class LocalFrameSpec extends SparkSpec {
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("k", LongType),
    StructField("g", StringType), StructField("x", DoubleType), StructField("n", IntegerType),
    StructField("s", StringType), StructField("arr", ArrayType(LongType))))

  private def frame(rng: SplittableRandom, size: Int, idBase: Long): DataFrame = {
    def pick[T](xs: T*): T = xs(rng.nextInt(xs.size))
    val rows = (0 until size).map { i =>
      Row(idBase + i, pick[Any](null, 1L, 2L, 3L, 3L),
        pick[Any](null, "a", "b", "b", "é"),
        pick[Any](null, Double.NaN, -0.0, 0.0, 1.5, -2.0, 1.5),
        pick[Any](null, 0, 1, 7, 7),
        pick[Any](null, "x", "y", s"s$i"),
        pick[Any](null, Seq(), Seq(1L, 2L), Seq(5L)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** A row as a string, doubles by their bits (nested values too). */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => s"d${java.lang.Double.doubleToLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToIntBits(f)}"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** The plans; `true` where the row order is part of the answer. */
  private def menu(l: DataFrame, r: DataFrame): Seq[(String, Boolean, DataFrame)] = {
    val s = spark
    def aggs = Seq(sum(col("n")).alias("sum_n"), sum(col("x")).alias("sum_x"),
      count(col("x")).alias("cnt_x"), count(lit(1)).alias("cnt"),
      count_if(col("x") > 0).alias("pos"), max_by(col("s"), col("id")).alias("last_s"),
      TopKAgg.topk(s, col("n").cast("double"), col("id"), 3).alias("top"),
      TopKStrAgg.topk(s, coalesce(col("n"), lit(0)).cast("double"), col("s"), 2).alias("top_s"))
    val cond = l("k") === r("k")
    val residual = cond && l("n") < r("n")
    Seq(
      ("global aggregate", false, l.agg(aggs.head, aggs.tail: _*)),
      ("aggregate by g", false, l.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)),
      ("aggregate by x, k", false, l.groupBy(col("x"), col("k")).agg(count(lit(1)), sum(col("n")))),
      ("sort nulls first", true, l.orderBy(col("x").asc_nulls_first, col("id"))),
      ("sort nulls last, offset, limit", true,
        l.orderBy(col("g").desc_nulls_last, col("n").asc_nulls_last, col("id").desc).offset(2).limit(5)),
      ("filter, project", false, l.filter(col("x") >= 0 || col("g").isNull)
        .select(col("id"), (col("n") * 2).alias("n2"), upper(col("s")))),
      ("explode", false, l.select(col("id"), explode(col("arr")))),
      ("posexplode", false, l.select(col("id"), posexplode(col("arr")))),
      ("explode_outer", false, l.select(col("id"), explode_outer(col("arr")))),
      ("unionByName", false, l.select(col("id"), col("g")).unionByName(r.select(col("g"), col("id")))),
      ("row_number then filter", false, l.withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("x").asc_nulls_first, col("id"))))
        .filter(col("rn") <= 2)),
      ("row_number by a double key", false, l.withColumn("rn", row_number().over(
        Window.partitionBy(col("x")).orderBy(col("id").desc))))) ++
      Seq("inner", "cross", "left_outer", "left_semi", "left_anti").flatMap { how =>
        Seq(s"$how join" -> cond, s"$how join with a residual condition" -> residual).map {
          case (name, c) => (name, false, l.join(r, c, how))
        }
      } ++ Seq(("crossJoin", false, l.crossJoin(r.select(col("id").alias("rid")))),
        ("broadcast using-join then aggregate", false, l.join(broadcast(r.select(col("k"),
          col("n").alias("rn"))), Seq("k")).groupBy(col("k")).agg(sum(col("rn")), count(lit(1)))))
  }

  private def canonRows(rows: Array[Row], ordered: Boolean): Seq[String] = {
    val c = rows.toSeq.map(canon)
    if (ordered) c else c.sorted
  }

  test("LocalFrame.collect equals the plan over 40 seeded frames, for every plan of the menu") {
    val rng = new SplittableRandom(17)
    (1 to 40).foreach { round =>
      val size = if (round % 8 == 0) 0 else rng.nextInt(25)
      val l = frame(rng, size, 0L)
      val r = frame(rng, if (round % 11 == 0) 0 else rng.nextInt(12), 100L)
      val local = menu(l, r)
      val planned = menu(l.repartition(2), r.repartition(2))
      local.zip(planned).foreach { case ((name, ordered, d), (_, _, p)) =>
        val got = LocalFrame.rows(d)
        assert(got.isDefined, s"round $round: '$name' was not evaluated on the driver")
        assert(LocalFrame.rows(p).isEmpty, s"'$name' over a repartition must take the plan")
        assert(canonRows(got.get, ordered) === canonRows(p.collect(), ordered),
          s"round $round ($size rows): '$name'")
      }
    }
  }

  test("unsupported plans take the plan and still collect the right rows") {
    val l = frame(new SplittableRandom(3), 20, 0L)
    val r = frame(new SplittableRandom(4), 6, 100L)
    val cases = Seq(
      "rand()" -> l.select(col("id"), rand(7).alias("r")),
      "a scalar subquery" -> l.select(col("id"), r.agg(max(col("n"))).scalar().alias("m")),
      "sample" -> l.sample(0.5, 11L),
      "repartition" -> l.repartition(2).select(col("id")))
    cases.foreach { case (name, d) =>
      assert(LocalFrame.rows(d).isEmpty, s"$name was evaluated on the driver")
      assert(canonRows(LocalFrame.collect(d), ordered = false) === canonRows(d.collect(), ordered = false),
        name)
    }
  }

  test("a join past the row ceiling takes the plan") {
    val s = spark; import s.implicits._
    val big = (0L until 300L).toDF("a")
    val d = big.crossJoin(big.select(col("a").alias("b")))
    assert(LocalFrame.rows(d).isEmpty)
    assert(LocalFrame.collect(d.agg(count(lit(1)))).head.getLong(0) === 90000L)
  }
}
