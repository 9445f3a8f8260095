package graft

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import graft.pipeline.Pipeline
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col

/** The daily load's crash safety, adversarially. A daily load lands a 4th
  * day (`lottery_next`: the new number 51 sorts below 78) on the 3-day
  * warehouse of the `lottery` fixture. This spec kills that load at every
  * boundary (via `Pipeline.crashHook`): on either side of the staging and
  * transform batch commits, between a driver-written file's temp file
  * and its move (a batch's staging and transform files included),
  * between the fact append and the batch's loaded mark, and after it. It
  * asserts per crash point:
  *
  *   1. THE KEYS SURVIVE: the crashed warehouse's dim_number is complete
  *      and every stored number keeps its number_key, since the facts
  *      appended so far reference it (a lost dim_number would re-key from
  *      scratch and re-attribute them).
  *   2. REPLAY CONVERGES: a replayed `runAll` gives the never-crashed
  *      warehouse: the same dim_number keys, dim_date, staging and
  *      transform rows (up to `load_timestamp` and the batch number), the
  *      same facts with no duplicate grain, the same mart, and one data
  *      file per driver-replaced table.
  *   3. NOTHING UNCOMMITTED IS LEFT: every batch on disk and every file
  *      marker belongs to a batch that passed all three stages, the mart
  *      counts every loaded batch, and no temp file or output committer
  *      directory remains.
  *
  * The mart is maintained from the batches it counts (`marted-` marks),
  * so a crash between the mart's replace and its marks is a point too,
  * and a warehouse with no such marks must recompute its mart.
  *
  * A second sweep re-crawls the 4th day's file (a new modification time)
  * between a crash after its batch's staging commit and the replay, so
  * the replay stages it again and finds two batches pending. The replay
  * must equal the never-crashed run that loads the day and then stages
  * the re-crawled file: the day's facts are appended once, not counted
  * twice. A crash before the commit (the batch's temp file written)
  * leaves no batch, so there the replay must equal the never-crashed
  * run of the day alone.
  */
class PipelineCrashSpec extends SparkSpec {

  private def lay(root: Path) = Pipeline.Layout(root.toString)

  private def keys(root: Path): Map[String, Int] =
    spark.read.parquet(lay(root).dimNumber).collect()
      .map(r => r.getAs[String]("number_value") -> r.getAs[Int]("number_key")).toMap

  private def facts(root: Path): Set[Seq[Any]] = rows(spark.read.parquet(lay(root).factPrize))

  private def mart(root: Path): Set[Seq[Any]] = rows(spark.read.parquet(lay(root).mart))

  private def dates(root: Path): Set[Seq[Any]] = rows(spark.read.parquet(lay(root).dimDate))

  /** A batch table's rows with their counts, without the load time and
    * the batch number (a replay's batch is another process_id). */
  private def batchRows(dir: String): Map[Seq[Any], Int] =
    spark.read.parquet(dir).drop("load_timestamp", "batch").collect().map(_.toSeq)
      .groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** The 4-day drop, and the 3-day warehouse every crash starts from. */
  private lazy val (drop, base): (String, Path) = {
    val dir = Files.createTempDirectory("crashbase")
    val drop = dir.resolve("drop")
    Files.createDirectories(drop)
    def copyIn(resource: String): Unit =
      new File(getClass.getResource(resource).getPath).listFiles()
        .foreach(f => Files.copy(f.toPath, drop.resolve(f.getName)))
    copyIn("/lottery")
    Pipeline.runAll(spark, drop.toString, dir.resolve("wh").toString)
    copyIn("/lottery_next")
    (drop.toString, dir.resolve("wh"))
  }

  private def copyOfBase(name: String): Path = {
    val root = Files.createTempDirectory(name).resolve("wh")
    FileUtils.copyDirectory(base.toFile, root.toFile)
    root
  }

  /** Never-crashed reference after the 4th day. */
  private final case class Warehouse(keys: Map[String, Int], facts: Set[Seq[Any]],
                                     mart: Set[Seq[Any]], dates: Set[Seq[Any]],
                                     staging: Map[Seq[Any], Int], transform: Map[Seq[Any], Int])

  private def warehouse(root: Path) = Warehouse(keys(root), facts(root), mart(root),
    dates(root), batchRows(lay(root).staging), batchRows(lay(root).transform))

  private lazy val reference: Warehouse = {
    val root = copyOfBase("crashref")
    Pipeline.runAll(spark, drop, root.toString)
    warehouse(root)
  }

  private val crashPoints = Seq("staging.tmp", "staging", "staging.committed",
    "transform.tmp", "transform", "transform.committed", "dim_date.tmp", "dim_date.moved",
    "dim_date", "dim_number.tmp", "dim_number.moved", "dim_number", "fact_prize.tmp", "fact_prize",
    "loaded", "mart_two_digit_probability.tmp", "mart_two_digit_probability.moved", "marted")

  /** Everything on disk belongs to a committed batch: staging and
    * transform hold only batches that passed all stages, the mart counts
    * every loaded batch, every file marker's batch passed all stages, and
    * no temp file or `_temporary` is left. */
  private def assertNothingUncommitted(root: Path, cp: String): Unit = {
    val names = new File(lay(root).batches).list().toSeq
    def passed(stage: String) = names.collect {
      case n if n.startsWith(s"$stage-") => n.stripPrefix(s"$stage-").toLong }.toSet
    val staged = passed("staged")
    assert(staged.nonEmpty && passed("transformed") === staged && passed("loaded") === staged &&
      passed("marted") === passed("loaded"), s"uncommitted batch after a crash at $cp: ${names.sorted}")
    names.filter(_.startsWith("file-")).foreach { n =>
      assert(staged(n.split('-')(1).toLong), s"marker $n of an uncommitted batch after $cp")
    }
    Seq(lay(root).staging, lay(root).transform).foreach { dir =>
      val entries = new File(dir).list().toSeq
      assert(!entries.contains("_temporary"), s"$dir: ${entries.sorted}")
      assert(entries.filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).toSet
        === staged, s"$dir: ${entries.sorted} after a crash at $cp")
    }
    def listing(dir: String) = new File(dir).listFiles().map(_.getName).toSeq.sorted
    Seq(lay(root).dimDate, lay(root).dimNumber, lay(root).mart).foreach { dir =>
      assert(listing(dir).count(n => !n.startsWith(".")) === 1, s"$dir: ${listing(dir)}")
    }
    val batchDirs = Seq(lay(root).staging, lay(root).transform).flatMap(dir =>
      listing(dir).filter(_.startsWith("batch=")).map(b => s"$dir/$b"))
    (Seq(lay(root).dimDate, lay(root).dimNumber, lay(root).mart, lay(root).factPrize) ++ batchDirs).foreach { dir =>
      assert(!listing(dir).exists(_.startsWith(".tmp-")), s"$dir: ${listing(dir)}")
    }
  }

  /** A copy of the 4-day drop, modification times kept. */
  private def copyOfDrop(name: String): Path = {
    val dir = Files.createTempDirectory(name).resolve("drop")
    Files.createDirectories(dir)
    new File(drop).listFiles().foreach(f =>
      Files.copy(f.toPath, dir.resolve(f.getName), StandardCopyOption.COPY_ATTRIBUTES))
    dir
  }

  /** The crawler writes the 4th day's file again: same rows, a new
    * modification time, so it is a new file to P2. */
  private def recrawl(dropDir: Path): Unit =
    Files.setLastModifiedTime(dropDir.resolve("xsmb_27102025.csv"), FileTime.fromMillis(1761600000000L))

  /** Never-crashed: the 4th day loads, then its re-crawled file is staged
    * again as a batch of its own. */
  private lazy val recrawledReference: Warehouse = {
    val (root, dropDir) = (copyOfBase("recrawlref"), copyOfDrop("recrawlref"))
    Pipeline.runAll(spark, dropDir.toString, root.toString)
    recrawl(dropDir)
    Pipeline.runAll(spark, dropDir.toString, root.toString)
    assert(new File(lay(root).staging).list().count(_.startsWith("batch=")) === 3)
    warehouse(root)
  }

  for (cp <- Seq("staging.tmp", "staging.committed", "transform.tmp", "transform", "dim_date",
      "fact_prize.tmp", "fact_prize", "mart_two_digit_probability.moved"))
    test(s"crash at '$cp', then a re-crawl of the crashed batch's file: replay converges") {
      // a crash before the staging commit leaves no batch: the replay
      // stages the re-crawled file once, as a run that never crashed
      val ref = if (cp == "staging.tmp") reference else recrawledReference
      val (root, dropDir) = (copyOfBase(s"recrawl_$cp"), copyOfDrop(s"recrawl_$cp"))
      try {
        Pipeline.crashHook = step => if (step == cp) throw new RuntimeException(s"injected@$cp")
        intercept[RuntimeException](Pipeline.runAll(spark, dropDir.toString, root.toString))
      } finally Pipeline.crashHook = _ => ()
      recrawl(dropDir)
      Pipeline.runAll(spark, dropDir.toString, root.toString)
      assert(spark.read.parquet(lay(root).factPrize).groupBy("date_key", "number_key").count()
        .filter(col("count") > 1).count() === 0, s"duplicate fact grain after a crash at $cp")
      val got = warehouse(root)
      assert(got.facts === ref.facts, s"facts diverged after a crash at $cp and a re-crawl")
      assert(got === ref, s"warehouse diverged after a crash at $cp and a re-crawl")
      assertNothingUncommitted(root, cp)
    }

  test("a warehouse with no marted marks recomputes its mart in full when the next day lands") {
    val ref = reference
    val root = copyOfBase("unmarted")
    new File(lay(root).batches).listFiles().filter(_.getName.startsWith("marted-"))
      .foreach(f => Files.delete(f.toPath))
    // a stored mart the next run must not build on: every total doubled
    val stale = Files.createTempDirectory("stalemart").resolve("mart")
    spark.read.parquet(lay(root).mart)
      .withColumn("total_occurrences", (col("total_occurrences") * 2).cast("decimal(32,0)"))
      .coalesce(1).write.parquet(stale.toString)
    FileUtils.deleteDirectory(new File(lay(root).mart))
    FileUtils.copyDirectory(stale.toFile, new File(lay(root).mart))
    val served = Pipeline.runAll(spark, drop, root.toString)
    assert(warehouse(root) === ref)
    assert(rows(served) === ref.mart)
    assertNothingUncommitted(root, "no marted marks")
  }

  for (cp <- crashPoints)
    test(s"crash at '$cp': number keys survive, replay converges") {
      val ref = reference
      assert(ref.keys("51") === 5 && ref.keys("78") === 4, "reference keys")
      val root = copyOfBase(s"crash_$cp")
      val stored = keys(root)
      try {
        Pipeline.crashHook = step => if (step == cp) throw new RuntimeException(s"injected@$cp")
        val boom = intercept[RuntimeException](Pipeline.runAll(spark, drop, root.toString))
        assert(boom.getMessage === s"injected@$cp")
      } finally Pipeline.crashHook = _ => ()

      // (1) the crashed dim_number is complete and keeps every stored key
      val crashed = keys(root)
      stored.foreach { case (n, k) =>
        assert(crashed.get(n) === Some(k), s"number $n lost its key after a crash at $cp")
      }

      // (2) replay converges to the never-crashed warehouse
      val served = Pipeline.runAll(spark, drop, root.toString)
      val factDf = spark.read.parquet(lay(root).factPrize)
      assert(factDf.groupBy("date_key", "number_key").count()
        .filter(col("count") > 1).count() === 0, s"duplicate fact grain after a crash at $cp")
      val got = warehouse(root)
      assert(got.keys === ref.keys, s"keys diverged after a crash at $cp")
      assert(got.facts === ref.facts, s"facts diverged after a crash at $cp")
      assert(got.mart === ref.mart, s"mart diverged after a crash at $cp")
      assert(got.dates === ref.dates, s"dim_date diverged after a crash at $cp")
      assert(got.staging === ref.staging, s"staging diverged after a crash at $cp")
      assert(got.transform === ref.transform, s"transform diverged after a crash at $cp")
      assert(rows(served) === ref.mart)
      assertNothingUncommitted(root, cp)
    }
}
