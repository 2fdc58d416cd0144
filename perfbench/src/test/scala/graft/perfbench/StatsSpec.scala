package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.warehouse.dir", "target/spark-warehouse")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("tail: the highest percentile from p50 up with at least ten samples above it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) === (90, 90.0))
    // 40 samples: p75 leaves exactly 10 above, p76 leaves 9
    assert(Stats.tail((1 to 40).map(_.toDouble)) === (75, 30.0))
    // 20 samples: only p50 leaves 10 above
    assert(Stats.tail((1 to 20).map(_.toDouble)) === (50, 10.0))
    // fewer than 20: no percentile from p50 up qualifies, so the max
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) === (100, 3.0))
    assert(Stats.tail((1 to 19).map(_.toDouble)) === (100, 19.0))
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) === 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 50) === 5.0)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 100) === 10.0)
  }

  test("self time: a span minus the union of its children, clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) === 100)
    // overlapping children count once
    assert(Stats.selfTime(0, 100, Seq((10, 30), (20, 40))) === 70)
    // disjoint children add up; one sticking out past the end is clipped
    assert(Stats.selfTime(0, 100, Seq((0, 10), (50, 60), (90, 150))) === 70)
    // nested children do not double count
    assert(Stats.selfTime(0, 100, Seq((10, 90), (20, 30))) === 20)
    assert(Stats.covered(Seq((5, 5), (200, 300)), 0, 100) === 0)
  }

  test("digest: order and column order do not matter, a perturbed value does") {
    val s = spark
    import s.implicits._
    val df = (1 to 200).map(i => (i.toLong, s"row$i", i * 0.1)).toDF("id", "name", "x")
    val base = Stats.digest(df)
    assert(base._1 === 200)
    assert(Stats.digest(df.orderBy(col("id").desc)) === base)
    assert(Stats.digest(df.repartition(7)) === base)
    assert(Stats.digest(df.select("x", "id", "name")) === base)
    // a last-bit difference in a double is not a wrong answer
    assert(Stats.digest(df.withColumn("x", col("x") + lit(1e-12))) === base)
    // one changed cell, a dropped row or a duplicated row is
    val perturbed = df.withColumn("name", when(col("id") === 17, lit("row17x")).otherwise(col("name")))
    assert(Stats.digest(perturbed) !== base)
    assert(Stats.digest(df.filter(col("id") =!= 5)) !== base)
    assert(Stats.digest(df.union(df.filter(col("id") === 5))) !== base)
  }

  test("the observed digest of a drained frame equals the eager one") {
    val s = spark
    import s.implicits._
    val df = (1 to 50).map(i => (i, s"v${i % 7}")).toDF("k", "v")
    val ctx = new Ctx(spark, None, 0L)
    ctx.drain("out", df)
    assert(ctx.digests()("out") === Stats.digest(df))
  }

  test("pinned expectations parse, and every op of the DATS and operator workloads has one") {
    val exp = Expected.parse(java.nio.file.Paths.get("expected.tsv"))
    val ops = Pin.QueryNames.map(_._1)
    assert(ops.forall(exp.contains), ops.filterNot(exp.contains))
  }
}
