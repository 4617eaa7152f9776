package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The cache-lifetime rule of [[graft.graph.Materialize]] over the whole
  * query surface: every `SparkEntry.queries` entry runs once on the
  * in-repo sf0.01 data, and afterwards no cache entry, no persisted RDD
  * other than a checkpoint and no changed session conf may be left. A
  * source scan keeps every cache call inside `Materialize.scala`, so a
  * new ad-hoc cache cannot slip past the rule. */
class HygieneSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.core.GraftSession.builder("4").getOrCreate()
  private val sf = "perfbench/data/sf0.01"

  // Cold derive-once entries, so every query's build path runs too; the
  // wipe afterwards leaves no tag dir behind.
  override def beforeAll(): Unit = graft.core.Derived.wipeFor(Seq(sf))
  override def afterAll(): Unit = {
    graft.core.Derived.wipeFor(Seq(sf))
    spark.stop()
  }

  test("StorageLevel and .persist( appear under src/main only in Materialize.scala") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith("graph/Materialize.scala")))
    val offenders = files.filterNot(_.endsWith("graph/Materialize.scala")).filter { p =>
      val src = java.nio.file.Files.readString(p)
      src.contains("StorageLevel") || src.contains(".persist(")
    }
    assert(offenders.isEmpty, s"cache calls outside Materialize: ${offenders.mkString(", ")}")
  }

  test("no query leaves a cache entry, a persisted RDD or a conf change behind") {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def livePersists = spark.sparkContext.getPersistentRDDs.values.filterNot(_.isCheckpointed)
    val t0 = System.nanoTime()
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val conf0 = spark.conf.getAll
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      val conf1 = spark.conf.getAll
      val found = Seq(
        Option.when(!session.sharedState.cacheManager.isEmpty)("cache entries"),
        Option.when(livePersists.nonEmpty)(s"${livePersists.size} persisted RDDs"),
        Option.when(conf0 != conf1)(
          "conf drift in " + (conf0.keySet ++ conf1.keySet)
            .filter(k => conf0.get(k) != conf1.get(k)).mkString(", ")))
        .flatten.map(f => s"$name: $f")
      // judge the next query on its own
      spark.catalog.clearCache()
      livePersists.foreach(_.unpersist(blocking = true))
      found
    }
    info(f"${SparkEntry.queries.size} queries in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
