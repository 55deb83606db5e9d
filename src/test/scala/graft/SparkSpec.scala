package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: the engine's [[GraftSession]] configuration on local[4],
  * plus a throwaway warehouse dir.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.builder(getClass.getSimpleName, sf(), cpus = 4)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
