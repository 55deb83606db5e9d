package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: the engine's [[GraftSession]] configuration on local[4],
  * plus a throwaway warehouse dir.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.session(getClass.getSimpleName, sf(), cpus = 4, conf = Map(
      "spark.sql.warehouse.dir" -> Files.createTempDirectory("graft_warehouse").toString))

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** A clone of [[spark]] whose file split is smaller than any sf0.001 table,
    * so [[graft.plans.SmallInputs]] never applies: its plans take the shape
    * they have for inputs larger than one split, with the exchanges and
    * broadcasts the 100 TB posture tests look for.
    */
  lazy val distributed: SparkSession = {
    val clone = org.apache.spark.sql.graftbridge.ColumnBridge.cloneSession(spark)
    val smallest = Files.list(Paths.get(sf())).iterator().asScala.map(Files.size).min
    clone.conf.set("spark.sql.files.maxPartitionBytes", (smallest - 1).toString)
    clone
  }

  /** A private copy of the sf0.001 tables, so a test may rewrite one. */
  def tableCopy(): String = {
    val out = Files.createTempDirectory("graft_tables")
    Files.list(Paths.get(sf())).forEach(f => Files.copy(f, out.resolve(f.getFileName)))
    out.toString
  }

  /** Replace `dir`'s events.parquet out of band with `keep` of its rows. */
  def rewriteEvents(dir: String)(keep: DataFrame => DataFrame): Unit = {
    val tmp = Files.createTempDirectory("graft_events").resolve("out").toString
    keep(spark.read.parquet(s"$dir/events.parquet")).coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.move(part, Paths.get(dir, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }
}
