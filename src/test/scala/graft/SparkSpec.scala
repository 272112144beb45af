package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local[2] session for all specs (UTC, nanosAsLong, tiny shuffle). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` on a private copy of the sf0.001 dir: artifact keys
    * carry the data dir, so a fresh dir starts with no artifact entry
    * (entries built by EARLIER suites in this JVM would otherwise mask a
    * gap), and a dir-scoped invalidate at the end leaves the artifacts
    * later suites in the shared session rely on alone. */
  def withPrivateDir[A](body: String => A): A = {
    val copy = Files.createTempDirectory("graft-private-sf")
    new File(sfDir).listFiles().foreach { f =>
      Files.copy(f.toPath, copy.resolve(f.getName))
    }
    val dir = copy.toString
    try body(dir)
    finally {
      // Release everything built for the private dir: the artifacts,
      // the tmpdir layout parquets and warehouse bucket tables keyed by
      // the fresh dir's hash, and the copied data itself.
      Caches.invalidate(dir)
      val tag = Integer.toHexString(dir.hashCode & 0x7fffffff)
      Seq(s"graft_orders_bck_$tag", s"graft_customer_bck_$tag").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        SparkSpec.rmTree(new File(
          spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
      }
      Seq(s"graft_events_by_day_$tag", s"graft_calendar_dim_$tag")
        .foreach(d => SparkSpec.rmTree(new File(sys.props("java.io.tmpdir"), d)))
      SparkSpec.rmTree(copy.toFile)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // as in graft.Session: the default 100 generated classes are
      // evicted many times over by a registry sweep
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.configure(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(): Unit
  }
}
