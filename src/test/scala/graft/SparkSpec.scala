package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite, built from [[SessionRecipe]] like
  * Verify and the other mains, with its own warehouse dir. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SessionRecipe.builder("4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}
