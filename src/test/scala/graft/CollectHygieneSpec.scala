package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Driver-collect hygiene for ENGINE code: every `.collect()` in
  * src/main is pinned to an audited allowlist, so a new site cannot ship
  * without this spec forcing its boundedness to be argued. Background:
  * the round-12 review found one batch-proportional collect
  * (`AnnIndex.ingest` pulled per-batch verdicts to the driver — fine for
  * micro-batches, an OOM for a 10⁸-row bulk backfill); that path is now
  * fully distributed and this spec keeps the class extinct.
  *
  * The audited sites (all O(1) or capped-with-loud-fail, never
  * input-proportional):
  *   - Skew: hot-key set, `limit(maxHot)`-capped with an overflow check.
  *   - Control: config kv table (≤100 rows). The process_log is
  *     driver-written and its gates read a directory listing: no collect.
  *   - Pipeline: none. It stages and transforms a batch on the driver
  *     (Spark's CSV classes over the new files), builds the dims and the
  *     facts there from the stored dims (or, for a late batch, the stored
  *     facts' keys) and the batch's draws, reading stored rows with
  *     parquet's own reader (`storedRows`), and writes every table there.
  *   - Lottery: `occurrences` collects the per-number totals of the facts
  *     (one row per dim_number key the facts carry: ≤100, since
  *     dim_number has one row per distinct `number_value`, which
  *     transform makes the int of a number's last two characters, 0-99
  *     for the crawler's digit strings and -9..99 at most for any input),
  *     which `Pipeline` runs only when it recomputes the mart in full;
  *     `statistic` collects the mart (≤100 rows, one per such key) and
  *     computes the four dashboard scalars on the driver; the lazy
  *     DataFrame warehouse of `Lottery.run` collects the transform's rows
  *     counted per (number, day), one row per pair (≤100 per draw day),
  *     and builds both dims and the facts from them on the driver, as
  *     `Pipeline` does.
  *   - Serving: ≤100-row serving snapshots (the API-response edge,
  *     where rows leave Spark by design): `snapshot`, and the one
  *     collect per DataFrame that feeds `start`'s routes and lookups.
  *   - Html: bounded archived-fixture materialization (test corpus).
  *   - Csv: a 25-row dimension fixture.
  *   - Compact: one aggregated scalar row.
  *   - Similarity: centroid/codebook snapshots (nlist / m·ksub rows —
  *     index parameters, not corpus).
  *   - TextAnalysis: per-language guard rows (≤ language count).
  *
  * Measurement mains (Bench/ScaleBench/StreamBench and the Fuzz/Verify
  * drivers) are exempt: collecting results to print is their job and
  * none of them ships in a query plan. Adding a collect to an engine
  * file fails this spec; the fix is either to distribute the path
  * (preferred) or to extend the pin with the boundedness argument in
  * this scaladoc.
  *
  * Session hygiene rides the same scan: `graft.Session.local` is the
  * only `SparkSession.builder` in src/main, so the mains' confs cannot
  * drift apart again, and no type in src/main carries a round-numbered
  * name (`…R16`): a dev harness either gets a durable name and a caller
  * or a test, or it goes. */
class CollectHygieneSpec extends AnyFunSuite {

  private val exemptMains = Set("Bench.scala", "ScaleBench.scala",
    "StreamBench.scala", "Fuzz.scala", "Verify.scala")

  private val pinned = Map(
    "operators/Skew.scala" -> 2,
    "pipeline/Control.scala" -> 1,
    "pipeline/Lottery.scala" -> 3,
    "pipeline/Serving.scala" -> 2,
    "sources/Html.scala" -> 1,
    "sources/Csv.scala" -> 1,
    "sources/Compact.scala" -> 1,
    "ext/Similarity.scala" -> 2,
    "ext/TextAnalysis.scala" -> 1,
    // the serving probe's candidate-id fetch (probeWith — shared by
    // probeTopK and ServingHandle): bounded at k·refine by the ADC cut
    // and guarded by a loud require — the ids become the bucket-pruning
    // literals of the point-serving re-rank fetch (AnnIndexSpec pins the
    // SelectedBucketsCount plan). The ingest/retrain paths stay
    // collect-free (pinned below).
    "sources/AnnIndex.scala" -> 1)

  test("every engine .collect() site is on the audited allowlist") {
    val root = Paths.get("src/main/scala/graft")
    val files: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => exemptMains(p.getFileName.toString))
      .toSeq
    assert(files.nonEmpty)
    val counts = files.flatMap { p =>
      val n = """\.collect\(\)""".r
        .findAllMatchIn(Files.readString(p)).size
      if (n == 0) None
      else Some(root.relativize(p).toString.replace('\\', '/') -> n)
    }.toMap
    assert(counts == pinned,
      s"engine collect sites drifted from the audited pin.\n" +
        s"  now:    ${counts.toSeq.sorted}\n" +
        s"  pinned: ${pinned.toSeq.sorted}\n" +
        "Distribute the new path, or re-audit and extend the pin + scaladoc.")
  }

  test("one session factory builds every SparkSession; no round-numbered type names") {
    val main = Paths.get("src/main")
    val sources = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty)
    def rel(p: Path) = main.relativize(p).toString.replace('\\', '/')
    val builders = sources
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(rel)
    assert(builders == Seq("scala/graft/Session.scala"),
      s"SparkSession.builder outside graft.Session: ${builders.mkString(", ")}")
    val roundNamed = sources.flatMap { p =>
      """\b(?:object|class|trait)\s+(\w*R\d+)\b""".r
        .findAllMatchIn(Files.readString(p)).map(m => s"${rel(p)}: ${m.group(1)}")
    }
    assert(roundNamed.isEmpty,
      s"round-numbered type names in src/main: ${roundNamed.mkString(", ")}")
  }

  test("AnnIndex's only collect is the serving probe's bounded candidate fetch (ingest stays distributed)") {
    val txt = Files.readString(Paths.get(
      "src/main/scala/graft/sources/AnnIndex.scala"))
    val sites = """\.collect\(\)""".r.findAllMatchIn(txt).map(_.start).toSeq
    assert(sites.size == 1,
      s"AnnIndex collect count drifted (${sites.size}) — the ingest " +
        "verdict path must stay distributed; only the serving probe's " +
        "k·refine-capped id fetch (probeWith) is audited")
    val probeStart = txt.indexOf("private def probeWith")
    val probeEnd = txt.indexOf("def probeTopK")
    assert(probeStart >= 0 && probeEnd > probeStart)
    assert(sites.head > probeStart && sites.head < probeEnd,
      "the audited collect moved out of probeWith — re-audit")
    // and the boundedness guard is adjacent to the site
    assert(txt.contains("more than k*refine"),
      "the serving probe lost its loud candidate-cap guard")
  }
}
