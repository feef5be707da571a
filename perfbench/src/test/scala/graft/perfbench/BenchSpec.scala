package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Queries
import graft.pipeline.ReportWriter
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark at sf0.001 (1.5k orders, 150 customers): every
  * workload runs and checks out, a wrong expectation is caught, counts
  * repeat on a seed, and BENCHMARK.json names what the benchmark prints.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val Scale = 1500
  private var spark: SparkSession = _
  private lazy val work: Path = Files.createTempDirectory(Files.createDirectories(Paths.get("target").toAbsolutePath), "bench")
  private val json = new ObjectMapper()

  override def beforeAll(): Unit = {
    spark = Main.session(2, traced = true)
  }

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }

  private var runs = 0

  /** One run of `workload`; returns its parsed result line and the
    * metrics of its `layer` lines.
    */
  private def run(workload: String, seed: Long, traced: Boolean): (JsonNode, Map[String, (Double, String)]) = {
    runs += 1
    val args = Args(workload, seed, seconds = 2, trace = traced, work.resolve(s"run-$runs").toString, Scale)
    val probe = if (traced) Some(new Probe(spark.sparkContext)) else None
    val bench = new Bench(spark, args, new Trace, probe)
    bench.run()
    val out = new java.io.ByteArrayOutputStream()
    val result = Console.withOut(out)(Metrics.summarize(args, bench, probe))
    print(out)
    val layers = out.toString.linesIterator.filter(_.startsWith("layer ")).map { l =>
      val Array(_, name, value, unit) = l.split(" ")
      name -> (value.toDouble, unit)
    }.toMap
    (json.readTree(result), layers)
  }

  private def metrics(r: JsonNode): Map[String, (Double, String)] =
    r.get("metrics").fields().asScala.map(e =>
      e.getKey -> (e.getValue.get("value").asDouble, e.getValue.get("unit").asText)).toMap

  /** Every metric of a traced run: the result line's and the `layer` lines'. */
  private def allMetrics(run: (JsonNode, Map[String, (Double, String)])): Map[String, (Double, String)] =
    metrics(run._1) ++ run._2

  Metrics.Workloads.foreach { w =>
    test(s"$w runs, checks out and prints every end-to-end metric") {
      val (r, _) = run(w, seed = 7, traced = false)
      assert(r.get("correct").asBoolean, r)
      assert(r.get("failed").asLong == 0 && r.get("attempted").asLong >= 1)
      val m = metrics(r)
      assert(m.keySet == Metrics.EndToEnd.map(_._1).toSet)
      Metrics.EndToEnd.foreach { case (name, unit) =>
        assert(m(name)._2 == unit)
        assert(m(name)._1 > 0, s"$name must never be 0")
      }
    }
  }

  test("a report that differs from the expectation by one cent, one row or one name is caught") {
    val customers = Data.customers(3, Scale / 10)
    val orders = Data.orders(3, Scale, customers.size)
    Data.ordersDf(spark, orders).createOrReplaceTempView("orders")
    Data.customersDf(spark, customers).createOrReplaceTempView("customer")
    val h = new ReportWriter(work.resolve("digest").toString).write(spark.sql(Queries.reportSql))
    val got = Data.csvDigest(Paths.get(h.path))
    assert(got == Data.reportDigest(orders, customers))
    val urgent = orders.indexWhere(_.priority == Data.Urgent)
    val cent = orders.updated(urgent, orders(urgent).copy(cents = orders(urgent).cents + 1))
    assert(got != Data.reportDigest(cent, customers))
    assert(got != Data.reportDigest(orders.patch(urgent, Nil, 1), customers))
    val renamed = customers.map(c => if (c.key == orders(urgent).cust) c.copy(name = c.name + "x") else c)
    assert(got != Data.reportDigest(orders, renamed))
  }

  Seq("report_full", "ingest_daily").foreach { w =>
    test(s"$w: traced counts repeat exactly on the same seed") {
      val a = allMetrics(run(w, seed = 5, traced = true))
      val b = allMetrics(run(w, seed = 5, traced = true))
      assert(a.keySet == Metrics.AllPerLayer.map(_._1).toSet)
      val counts = Metrics.AllPerLayer.collect {
        case (name, unit) if Metrics.CountUnits(unit) && !Metrics.NonRepeating(name) => name
      }
      val differ = counts.filter(n => a(n)._1 != b(n)._1)
      assert(differ.isEmpty, differ.map(n => s"$n: ${a(n)._1} vs ${b(n)._1}").mkString("; "))
    }
  }

  test("BENCHMARK.json names exactly the metrics and workloads the benchmark has") {
    val spec = json.readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def named(key: String) = spec.get(key).elements().asScala.toSeq
    assert(named("end_to_end").map(m => m.get("name").asText -> m.get("unit").asText) == Metrics.EndToEnd)
    assert(named("per_layer").map(m => m.get("name").asText -> m.get("unit").asText) == Metrics.PerLayer)
    assert(named("workloads").map(_.get("name").asText).toSet.subsetOf(Metrics.Workloads.toSet))
  }
}
