package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The driver parses Bench's stdout with `json.loads(last_line)`; round
  * 6 lost its bench artifact to sbt log prefixes (`parsed:null`). The
  * runtime fix is the forked run with inherited stdio — this spec pins
  * the other half of the contract: the metrics line itself is ONE line
  * of bare JSON that a strict parser reads whatever the inputs (including
  * the failure sentinels -1.0 and Infinity that a broken query produces,
  * and a JVM whose default locale writes decimal commas).
  */
class BenchContractSpec extends AnyFunSuite {

  // strict: no NaN/Infinity tokens, no raw control characters in strings,
  // nothing after the value
  private val mapper = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private def parse(l: String): JsonNode = mapper.readTree(l)

  private def line(ratio: Double, counts: Map[String, Int]): String =
    Bench.render(
      results = Map("q01_agg" -> (0.5, 0.6), "st_window_agg" -> (-1.0, -1.0)),
      counts = counts, sfDir = "data/sf0.1",
      reps = 5, window = 5, ratio = ratio, calib = 0.07,
      total001 = 4.5, ivfpqBuild = 1.2, ivfpqProbe = 0.3,
      dataFp = "00ff00ff00ff00ff", cpus = 32)

  test("metrics line is a single line of bare JSON") {
    for (l <- Seq(line(1.1, Map("q01_agg" -> 5, "st_window_agg" -> 5)),
        line(Double.PositiveInfinity, Map("q01_agg" -> 5, "st_window_agg" -> 0)))) {
      assert(!l.contains("\n") && !l.contains("\r"), "line must be single-line")
      assert(l.startsWith("{\"metric\":\"total\"") && l.endsWith("}"),
        "no prefix/suffix allowed around the JSON object: " + l)
      assert(parse(l).isObject, "not a JSON object: " + l)
      // no bare non-JSON tokens: Infinity/NaN are not valid JSON scalars
      assert(!l.contains("Infinity") && !l.contains("NaN"),
        "sentinels must render as finite numbers: " + l)
      // the driver-read fields are all present
      Seq("\"value\":", "\"queries\":", "\"samples\":", "\"certified\":",
        "\"median_over_min\":", "\"calib_sec\":", "\"total_sf001\":",
        "\"ivfpq_build_sec\":", "\"ivfpq_probe_sec\":", "\"data_fp\":",
        "\"cpus\":", "\"master\":", "\"sf\":")
        .foreach(k => assert(l.contains(k), s"missing $k in: $l"))
    }
  }

  test("metrics line keeps its key order and digit counts") {
    assert(line(1.1, Map("q01_agg" -> 5, "st_window_agg" -> 5)) ===
      """{"metric":"total","value":0.5,"unit":"sec",""" +
      """"queries":{"q01_agg":0.5,"st_window_agg":-1.0},""" +
      """"queries_median":{"q01_agg":0.6,"st_window_agg":-1.0},""" +
      """"samples":{"q01_agg":5,"st_window_agg":5},"reps":5,"window":5,""" +
      """"certified":true,"median_over_min":1.1000,"calib_sec":0.0700,""" +
      """"total_sf001":4.5000,"ivfpq_build_sec":1.2000,"ivfpq_probe_sec":0.3000,""" +
      """"data_fp":"00ff00ff00ff00ff","cpus":32,"master":"local[32]",""" +
      """"sf":"data/sf0.1"}""")
  }

  test("metrics line stays valid JSON under a decimal-comma default locale") {
    import java.util.Locale
    val saved = Seq(Locale.Category.DISPLAY, Locale.Category.FORMAT)
      .map(c => c -> Locale.getDefault(c))
    val savedDefault = Locale.getDefault
    try {
      Locale.setDefault(Locale.GERMANY)
      val j = parse(line(1.1, Map("q01_agg" -> 5, "st_window_agg" -> 5)))
      assert(j.get("calib_sec").asDouble === 0.07)
      assert(j.get("median_over_min").asDouble === 1.1)
      assert(j.get("total_sf001").asDouble === 4.5)
    } finally {
      Locale.setDefault(savedDefault)
      saved.foreach { case (c, l) => Locale.setDefault(c, l) }
    }
  }

  test("strings round-trip exactly through the JSON writer") {
    val nasty = "a\"b\\c\td\re\nf\u0001g/\u00e9\u001f"
    val j = parse(Report.obj(nasty -> Report.str(nasty)).text)
    assert(j.get(nasty).asText === nasty)
    val l = Bench.render(Map(nasty -> (0.5, 0.6)), Map(nasty -> 5), sfDir = nasty,
      reps = 5, window = 5, ratio = 1.1, calib = 0.07, total001 = 4.5,
      ivfpqBuild = 1.2, ivfpqProbe = 0.3, dataFp = nasty, cpus = 4)
    assert(!l.contains("\n") && !l.contains("\r"), "line must be single-line")
    val b = parse(l)
    assert(b.get("sf").asText === nasty)
    assert(b.get("data_fp").asText === nasty)
    assert(b.get("queries").get(nasty).asDouble === 0.5)
  }

  test("NaN and infinities render as the -1.0 sentinel") {
    for (x <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      assert(Report.num(x).text === "-1.0")
      assert(Report.num(x, 4).text === "-1.0")
      val j = parse(Bench.render(Map("q01_agg" -> (x, x)), Map("q01_agg" -> 5),
        sfDir = "data/sf0.1", reps = 5, window = 5, ratio = x, calib = x,
        total001 = x, ivfpqBuild = x, ivfpqProbe = x, dataFp = "ab", cpus = 4))
      Seq("median_over_min", "calib_sec", "total_sf001", "ivfpq_build_sec", "ivfpq_probe_sec")
        .foreach(k => assert(j.get(k).asDouble === -1.0, s"$k for $x"))
      assert(j.get("queries").get("q01_agg").asDouble === -1.0)
    }
  }

  test("oracle_sql.json reads back as SparkEntry.oracleSql") {
    import scala.jdk.CollectionConverters._
    val sql = SparkEntry.oracleSql
    val j = parse(Verify.oracleSqlJson(sql))
    val back = j.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    assert(back === sql)
  }

  test("data fingerprint: stable across calls, sensitive to regeneration") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp")
    val f = dir.resolve("lineitem.parquet")
    java.nio.file.Files.writeString(f, "aaaa")
    f.toFile.setLastModified(1755000000000L)
    val fp1 = DataFp.of(dir.toString)
    val fp2 = DataFp.of(dir.toString)
    assert(fp1 === fp2, "fingerprint must be deterministic")
    assert(fp1.matches("[0-9a-f]{16}"), fp1)
    // same bytes, new mtime — a regeneration MUST change the fp
    f.toFile.setLastModified(1755000001000L)
    assert(DataFp.of(dir.toString) !== fp1, "mtime change must change fp")
    // size change too
    java.nio.file.Files.writeString(f, "aaaaaa")
    f.toFile.setLastModified(1755000001000L)
    assert(DataFp.of(dir.toString) !== fp1, "size change must change fp")
    // non-parquet clutter is ignored
    val before = DataFp.of(dir.toString)
    java.nio.file.Files.writeString(dir.resolve("notes.txt"), "x")
    assert(DataFp.of(dir.toString) === before, "non-parquet files must not count")
  }

  private val malformed = Seq(None, Some("*"), Some(""), Some("0"), Some("-4"),
    Some("4.5"), Some("abc"), Some("99999999999"))

  test("cores: a positive SPARK_GRAFT_CPUS wins, anything else means this machine's") {
    val machine = Runtime.getRuntime.availableProcessors()
    assert(Session.cores(Some("8")) === 8)
    assert(Session.cores(Some(" 3 ")) === 3)
    malformed.foreach { raw =>
      assert(Session.cores(raw) === machine, s"SPARK_GRAFT_CPUS=$raw")
    }
  }

  test("shuffle: a positive SPARK_GRAFT_SHUFFLE wins, anything else means the core count") {
    assert(Session.shuffle(Some("257"), 4) === 257)
    assert(Session.shuffle(Some(" 7 "), 4) === 7)
    malformed.foreach { raw =>
      assert(Session.shuffle(raw, 4) === 4, s"SPARK_GRAFT_SHUFFLE=$raw")
    }
  }

  test("counts: bench reps, max reps, Solo/OverheadProbe reps and StreamBench chunks fall back to their default") {
    assert(Session.positive(Some("3"), 5) === 3)
    assert(Session.positive(Some(" 40 "), 25) === 40)
    malformed.foreach { raw =>
      assert(Session.positive(raw, 5) === 5, s"SPARK_GRAFT_BENCH_REPS=$raw")
      assert(Session.positive(raw, 16) === 16, s"StreamBench chunks=$raw")
    }
  }

  test("verify headroom: a finite non-negative number wins, anything else means the default") {
    assert(Session.nonNegative(Some("0"), 10.0) === 0.0)
    assert(Session.nonNegative(Some(" 2.5 "), 10.0) === 2.5)
    Seq(None, Some(""), Some("-1"), Some("abc"), Some("NaN"), Some("Infinity"), Some("-0.5"))
      .foreach { raw =>
        assert(Session.nonNegative(raw, 10.0) === 10.0, s"SPARK_GRAFT_VERIFY_HEADROOM_GB=$raw")
      }
  }

  test("zero-sample queries fail certification") {
    val l = line(1.05, Map("q01_agg" -> 5, "st_window_agg" -> 0))
    assert(l.contains("\"certified\":false"), l)
    val ok = line(1.05, Map("q01_agg" -> 5, "st_window_agg" -> 5))
    assert(ok.contains("\"certified\":true"), ok)
  }
}
