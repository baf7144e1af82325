package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class PerfbenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper

  private def benchmarkJson =
    mapper.readTree(new java.io.File(sys.props.getOrElse("perfbench.root", ".."), "BENCHMARK.json"))

  test("the same seed gives the same OLTP statement stream; another seed does not") {
    val keys = (1L to 300L).toIndexedSeq
    def take(seed: Long) = Oltp.stream(seed, keys).take(200).map(_.stmt).toList
    assert(take(7) == take(7))
    assert(take(7) != take(8))
  }

  test("OLTP blocks hold each read template twice and one write") {
    val keys = (1L to 300L).toIndexedSeq
    Oltp.stream(3, keys).take(Oltp.BlockSize * 20).toList.grouped(Oltp.BlockSize).foreach { block =>
      val reads = block.collect { case r: OltpRead => r.template }
      assert(reads.groupBy(identity).values.map(_.size).toSet == Set(Oltp.ReadsPerTemplate))
      assert(reads.toSet == Oltp.Templates.indices.toSet)
      assert(block.count(_.isInstanceOf[OltpWrite]) == 1)
    }
  }

  test("OLTP keys are Zipf-skewed: the hottest key is drawn far more often than the median one") {
    val keys = (1L to 1000L).toIndexedSeq
    val counts = Oltp.stream(5, keys).take(11000).collect { case r: OltpRead => r.key }
      .toList.groupBy(identity).values.map(_.size).toSeq.sorted.reverse
    assert(counts.head > 50 * counts(counts.size / 2))
  }

  test("the same seed gives the same ingest batches and the same model") {
    def run(seed: Long) = {
      val g = new IngestGen(seed)
      val ops = g.take(64).map(_.stmt).toList
      (ops, g.values.toMap, g.links.toSet)
    }
    assert(run(11) == run(11))
    assert(run(11)._1 != run(12)._1)
  }

  test("ingest read-backs expect exactly the live keys, with their latest values") {
    val g = new IngestGen(3)
    val live = scala.collection.mutable.Map.empty[Long, String]
    g.take(80).foreach {
      case Upsert(rows) => live ++= rows
      case Delete(keys) => live --= keys
      case ReadBack(keys, expected) =>
        assert(expected == keys.flatMap(k => live.get(k).map(k -> _)).sortBy(_._1))
      case _: Link =>
    }
    assert(live == g.values)
  }

  test("the same seed gives the same tables and the same analytics pass") {
    val scale = Scale(0.0005)
    val a = DataGen.tables(9, scale).map { case (n, _, rows) => n -> rows.map(_.toSeq) }
    assert(a == DataGen.tables(9, scale).map { case (n, _, rows) => n -> rows.map(_.toSeq) })
    assert(a != DataGen.tables(10, scale).map { case (n, _, rows) => n -> rows.map(_.toSeq) })
    assert(AnalyticsPass(4).stmts == AnalyticsPass(4).stmts)
  }

  test("a tail percentile is reported only with at least ten samples beyond it") {
    assert(!Stats.tailReportable(90, 99))
    assert(Stats.tailReportable(90, 100))
    assert(Stats.highestReportable(19).isEmpty)
    assert(Stats.highestReportable(20).contains(50))
    assert(Stats.highestReportable(40).contains(75))
    assert(Stats.highestReportable(100).contains(90))
    assert(Stats.highestReportable(199).contains(90))
    assert(Stats.highestReportable(200).contains(95))
    assert(Stats.highestReportable(1000).contains(99))
  }

  test("quantiles interpolate linearly; union length merges overlapping intervals") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)
    assert(Stats.unionLength(Nil) == 0L)
  }

  test("the result line parses and carries every metric BENCHMARK.json names") {
    val bench = benchmarkJson
    def names(key: String) = bench.path(key).elements().asScala.map(_.path("name").asText()).toSeq
    val e2eNames = names("end_to_end")
    val layerNames = names("per_layer")
    assert(e2eNames == Common.EndToEndNames)
    assert(layerNames == Common.LayerNames)
    val units = (bench.path("end_to_end").elements().asScala ++ bench.path("per_layer").elements().asScala)
      .map(m => m.path("name").asText() -> m.path("unit").asText()).toMap
    val o = Outcome(attempted = 40, failed = 0,
      endToEnd = e2eNames.filter(_ != "setup_s").map(n => n -> Metric(1.25, units(n))),
      layers = layerNames.map(n => n -> Metric(0.5, units(n))),
      report = Seq("failed_frac" -> Metric(0.0, "ratio")))
    for ((trace, expected) <- Seq(false -> e2eNames, true -> layerNames)) {
      val line = mapper.readTree(Main.resultLine(trace, setupS = 12.5, o))
      assert(line.fieldNames().asScala.toList == List("correct", "attempted", "failed", "metrics"))
      assert(line.path("correct").asBoolean() && line.path("attempted").asLong() == 40)
      val metrics = line.path("metrics")
      assert(metrics.fieldNames().asScala.toList == expected.toList)
      expected.foreach { n =>
        assert(metrics.path(n).path("value").isNumber, n)
        assert(metrics.path(n).path("unit").asText() == units(n), n)
      }
    }
  }

  test("JSON strings are escaped and doubles keep every digit") {
    assert(Json.write(Map("a\"b" -> "x\ny")) == "{\"a\\\"b\": \"x\\ny\"}")
    assert(mapper.readTree(Json.write(Seq(0.1 + 0.2))).get(0).asDouble() == 0.1 + 0.2)
  }
}
