package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver parses Bench's stdout with `json.loads(last_line)`; round
  * 6 lost its bench artifact to sbt log prefixes (`parsed:null`). The
  * runtime fix is the forked run with inherited stdio — this spec pins
  * the other half of the contract: the metrics line itself is ONE line
  * of bare, balanced JSON whatever the inputs (including the failure
  * sentinels -1.0 and Infinity that a broken query produces).
  */
class BenchContractSpec extends AnyFunSuite {

  private def line(ratio: Double, counts: Map[String, Int]): String =
    Bench.render(
      results = Map("q01_agg" -> (0.5, 0.6), "st_window_agg" -> (-1.0, -1.0)),
      counts = counts, sfDir = "/root/testdata/sf0.1",
      reps = 5, window = 5, ratio = ratio, calib = 0.07,
      total001 = 4.5, ivfpqBuild = 1.2, ivfpqProbe = 0.3,
      dataFp = "00ff00ff00ff00ff", cpus = 32)

  test("metrics line is a single line of bare JSON") {
    for (l <- Seq(line(1.1, Map("q01_agg" -> 5, "st_window_agg" -> 5)),
        line(Double.PositiveInfinity, Map("q01_agg" -> 5, "st_window_agg" -> 0)))) {
      assert(!l.contains("\n") && !l.contains("\r"), "line must be single-line")
      assert(l.startsWith("{\"metric\":\"total\"") && l.endsWith("}"),
        "no prefix/suffix allowed around the JSON object: " + l)
      // balanced structure: braces match and quotes pair up
      val depth = l.foldLeft(0) { (d, c) =>
        assert(d >= 0, "brace closed before opened: " + l)
        c match { case '{' => d + 1; case '}' => d - 1; case _ => d }
      }
      assert(depth === 0, "unbalanced braces: " + l)
      assert(l.count(_ == '"') % 2 === 0, "unbalanced quotes: " + l)
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

  test("zero-sample queries fail certification") {
    val l = line(1.05, Map("q01_agg" -> 5, "st_window_agg" -> 0))
    assert(l.contains("\"certified\":false"), l)
    val ok = line(1.05, Map("q01_agg" -> 5, "st_window_agg" -> 5))
    assert(ok.contains("\"certified\":true"), ok)
  }
}
