package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- percentile choice

  test("tail percentile: the highest with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(148).contains(93))
    assert(Stats.tailPercentile(74).contains(86))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(10000).contains(99))
    assert(Stats.tailPercentile(19).isEmpty)
    for (n <- 20 to 2000; p <- Stats.tailPercentile(n)) {
      assert(Stats.beyond(n, p / 100.0) >= 10, s"n=$n p=$p")
      if (p < 99) assert(Stats.beyond(n, (p + 1) / 100.0) < 10, s"n=$n p=$p is not the highest")
    }
  }

  test("quantile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.quantile(xs, 0.5) == 2.5)
    assert(math.abs(Stats.quantile((1 to 11).map(_.toDouble), 0.9) - 10.0) < 1e-12)
    assert(Stats.quantile(Nil, 0.5).isNaN)
  }

  test("Harrell-Davis quantile moves smoothly where the samples have a gap") {
    val odd = (1 to 11).map(_.toDouble)
    assert(math.abs(Stats.hdQuantile(odd, 0.5) - 6.0) < 1e-9)
    assert(math.abs(Stats.hdQuantile(Seq.fill(7)(2.5), 0.9) - 2.5) < 1e-9)
    assert(Stats.hdQuantile(odd, 0.5) < Stats.hdQuantile(odd, 0.9))
    assert(Stats.hdQuantile(Seq(4.0), 0.5) == 4.0)
    assert(Stats.hdQuantile(Nil, 0.5).isNaN)
    // two clusters; one sample crossing from the high to the low cluster
    val even = Seq.fill(5)(1.0) ++ Seq.fill(5)(10.0)
    val tilted = Seq.fill(6)(1.0) ++ Seq.fill(4)(10.0)
    val linJump = Stats.quantile(even, 0.5) - Stats.quantile(tilted, 0.5)
    val hdJump = Stats.hdQuantile(even, 0.5) - Stats.hdQuantile(tilted, 0.5)
    assert(hdJump > 0 && hdJump < linJump / 2, s"hd $hdJump vs linear $linJump")
  }

  // ---- fingerprint canon

  private val names = Seq("b", "a", "c")
  private val rows = Seq(Seq[Any](1L, "x", 0.5), Seq[Any](2L, "y", 1.25), Seq[Any](2L, "y", 1.25))

  test("fingerprint ignores row order but counts duplicate rows") {
    val fp = Fingerprint.ofRows(names, rows.iterator)
    assert(fp == Fingerprint.ofRows(names, rows.reverse.iterator))
    assert(fp.rows == 3)
    assert(fp != Fingerprint.ofRows(names, rows.distinct.iterator))
  }

  test("fingerprint ignores column order") {
    val perm = Seq(2, 0, 1)
    val fp = Fingerprint.ofRows(names, rows.iterator)
    assert(fp == Fingerprint.ofRows(perm.map(names), rows.map(r => perm.map(r)).iterator))
    // the values must stay with their column names
    assert(fp != Fingerprint.ofRows(names, rows.map(r => perm.map(r)).iterator))
  }

  test("fingerprint rounds doubles to 6 decimal places") {
    def one(v: Any) = Fingerprint.ofRows(Seq("v"), Iterator(Seq(v)))
    assert(one(1.0000001) == one(1.0000004))
    assert(one(1.000001) != one(1.000002))
    assert(one(-0.0) == one(0.0))
    assert(one(0.1f) == one(0.1))
    assert(one(Seq(1.00000001, 2.0)) == one(Seq(1.0, 2.00000002)))
    assert(one(Map("k" -> 3.0000000001)) == one(Map("k" -> 3.0)))
    assert(one(java.math.BigDecimal.valueOf(2.5)) == one(2.5))
    // summation-order noise in large aggregates stays below the cut
    assert(one(123456789.12345678) == one(123456789.12345679))
    assert(Fingerprint.double(1234.5678901) == "1234.56789")
    assert(Fingerprint.double(0.000123456789) == "0.000123")
  }

  test("fingerprint of a DataFrame forces every column, in any order") {
    val s = spark
    import s.implicits._
    val df = Seq((3L, "c", 1.5, Seq(1, 2)), (1L, "a", 2.25, Seq(3)), (2L, "b", 0.1, Seq.empty[Int]))
      .toDF("id", "name", "score", "xs")
    val fp = Fingerprint.of(df)
    assert(fp.rows == 3)
    assert(fp == Fingerprint.of(df.select("xs", "score", "name", "id").orderBy($"id".desc)))
    assert(fp == Fingerprint.of(df.repartition(3)))
    assert(fp != Fingerprint.of(df.withColumn("score", $"score" + 1e-3)))
    assert(fp != Fingerprint.of(df.drop("xs")))
    val roundTrip = Fingerprint.parse(fp.show)
    assert(roundTrip == fp)
  }

  // ---- span self time

  test("self time subtracts the union of children, clipped to the parent") {
    val s = 1000000000L
    val spans = Seq(
      Span("o", "op", 0, 10 * s, None),
      Span("o", "queries.build", 1 * s, 4 * s, Some("op")),
      Span("o", "plan", 4 * s, 5 * s, Some("op")),
      Span("o", "exec", 5 * s, 9 * s, Some("op")),
      // overlapping triggers under build: union 2.0..3.5 = 1.5 s
      Span("o", "streaming.trigger", 2 * s, 3 * s, Some("queries.build")),
      Span("o", "streaming.trigger", 2500000000L, 3500000000L, Some("queries.build")),
      // a second op with a child sticking out of its parent
      Span("p", "op", 20 * s, 22 * s, None),
      Span("p", "exec", 21 * s, 30 * s, Some("op")))
    val self = Span.selfSeconds(spans)
    assert(math.abs(self("op") - (2.0 + 1.0)) < 1e-9)
    assert(math.abs(self("queries.build") - 1.5) < 1e-9)
    assert(math.abs(self("streaming.trigger") - 2.0) < 1e-9)
    assert(math.abs(self("plan") - 1.0) < 1e-9)
    assert(math.abs(self("exec") - (4.0 + 9.0)) < 1e-9)
    assert(Span.covered(Seq((0L, 2L), (1L, 3L), (5L, 6L))) == 4L)
    assert(Span.covered(Nil) == 0L)
  }

  // ---- job-group attribution

  test("listener counts attribute to each client's job group under concurrency") {
    val sc = spark.sparkContext
    val jobs = new JobListener(Main.TagPrefix)
    sc.addSparkListener(jobs)
    try {
      val plan = Seq("a" -> 5, "b" -> 3)
      val clients = plan.map { case (op, n) =>
        new Thread(() => {
          sc.setJobGroup(s"$op|exec", op)
          (1 to n).foreach(_ => sc.parallelize(1 to 1000, 3).map(_ * 2).count())
          sc.clearJobGroup()
          // no group, only the op's tag: attributed to the build phase
          sc.addJobTag(Main.TagPrefix + op)
          sc.parallelize(1 to 10, 1).count()
          sc.removeJobTag(Main.TagPrefix + op)
        })
      }
      clients.foreach(_.start())
      clients.foreach(_.join())
      org.apache.spark.PerfbenchBus.drain(sc)
      plan.foreach { case (op, n) =>
        val c = jobs.sum(_ == s"$op|exec")
        assert(c.jobs == n, op)
        assert(c.stages == n, op)
        assert(c.tasks == 3L * n, op)
        val b = jobs.sum(_ == s"$op|queries.build")
        assert(b.jobs == 1 && b.tasks == 1 && b.singleTaskStages == 1, op)
      }
      assert(jobs.sum(_ == "?").jobs == 0)
    } finally sc.removeSparkListener(jobs)
  }

  // ---- set-up and memory

  test("a fresh graft loader defines graft's classes again and shares Spark's") {
    val fresh = new Session.FreshGraft
    val entry = fresh.loadClass("graft.SparkEntry$")
    assert(entry ne graft.SparkEntry.getClass)
    assert(entry.getClassLoader eq fresh)
    assert(fresh.loadClass("graft.SparkEntry$") eq entry)
    assert(fresh.loadClass("org.apache.spark.sql.SparkSession") eq classOf[SparkSession])
    assert(new Session.FreshGraft().loadClass("graft.SparkEntry$") ne entry)
  }

  test("live heap counts what survives a collection") {
    val before = Util.liveHeapMb()
    val keep = Array.fill(64)(new Array[Byte](1 << 20))
    val after = Util.liveHeapMb()
    assert(keep.length == 64)
    assert(after - before >= 60, s"live heap $before MB, then $after MB")
    assert(Util.outsideHeapMb() < Util.peakRssMb())
  }
}
