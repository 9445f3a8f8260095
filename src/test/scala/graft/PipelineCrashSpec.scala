package graft

import java.io.File
import java.nio.file.{Files, Path}

import graft.pipeline.Pipeline
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col

/** P4's and MART's crash safety, adversarially. A daily load lands a 4th
  * day (`lottery_next`: the new number 51 sorts below 78) on the 3-day
  * warehouse of the `lottery` fixture. This spec kills that load at every
  * boundary (via `Pipeline.crashHook`), including between a driver-written
  * table's temp file and its move, and asserts per crash point:
  *
  *   1. THE KEYS SURVIVE: the crashed warehouse's dim_number is complete
  *      and every stored number keeps its number_key, since the facts
  *      appended so far reference it (a lost dim_number would re-key from
  *      scratch and re-attribute them).
  *   2. REPLAY CONVERGES: a replayed `runAll` gives the never-crashed
  *      warehouse: the same dim_number keys, the same facts with no
  *      duplicate grain, the same mart, and one data file per
  *      driver-written table, with no temp file left behind.
  */
class PipelineCrashSpec extends SparkSpec {

  private def lay(root: Path) = Pipeline.Layout(root.toString)

  private def keys(root: Path): Map[String, Int] =
    spark.read.parquet(lay(root).dimNumber).collect()
      .map(r => r.getAs[String]("number_value") -> r.getAs[Int]("number_key")).toMap

  private def facts(root: Path): Set[Seq[Any]] = rows(spark.read.parquet(lay(root).factPrize))

  private def mart(root: Path): Set[Seq[Any]] = rows(spark.read.parquet(lay(root).mart))

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

  /** Never-crashed reference: keys, facts and mart after the 4th day. */
  private lazy val reference: (Map[String, Int], Set[Seq[Any]], Set[Seq[Any]]) = {
    val root = copyOfBase("crashref")
    Pipeline.runAll(spark, drop, root.toString)
    (keys(root), facts(root), mart(root))
  }

  private val crashPoints = Seq("dim_date", "dim_number.tmp", "dim_number.moved",
    "dim_number", "fact_prize",
    "mart_two_digit_probability.tmp", "mart_two_digit_probability.moved")

  for (cp <- crashPoints)
    test(s"crash at '$cp': number keys survive, replay converges") {
      val (refKeys, refFacts, refMart) = reference
      assert(refKeys("51") === 5 && refKeys("78") === 4, "reference keys")
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
      assert(keys(root) === refKeys, s"keys diverged after a crash at $cp")
      val factDf = spark.read.parquet(lay(root).factPrize)
      assert(factDf.groupBy("date_key", "number_key").count()
        .filter(col("count") > 1).count() === 0, s"duplicate fact grain after a crash at $cp")
      assert(facts(root) === refFacts, s"facts diverged after a crash at $cp")
      assert(mart(root) === refMart, s"mart diverged after a crash at $cp")
      assert(rows(served) === refMart)
      Seq(lay(root).dimNumber, lay(root).mart).foreach { dir =>
        val names = new File(dir).listFiles().map(_.getName).toSeq
        assert(names.count(n => !n.startsWith(".")) === 1, s"$dir: ${names.sorted}")
        assert(!names.exists(_.startsWith(".tmp-")), s"$dir: ${names.sorted}")
      }
    }
}
