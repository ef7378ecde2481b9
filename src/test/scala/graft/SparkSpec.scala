package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one SparkContext). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Hive catalog (SURVEY §2.8 C1) backed by a local derby metastore
      // under target/ — needed for metastore-managed partition
      // visibility in SinksSpec (K5 commit-delay semantics).
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=target/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    // every unpartitioned window in the engine runs on an audited
    // bounded frame (the KNOWN-BOUNDED comments at each site), so
    // WindowExec's single-partition WARN is pure noise in test logs —
    // same scoped silence Jobs.session applies (a constant partition key
    // cannot silence it: Spark 4's EliminateWindowPartitions folds it
    // away again)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Run `f` with interpreted fallback DISABLED so a Janino compile
    * failure in any custom expression's doGenCode throws instead of
    * silently degrading the whole stage to interpreted execution
    * (the r15 graft_adc margin-strip bug shipped green because the
    * fallback ate the error). */
  def strictCodegen[T](f: => T): T = {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevMode = spark.conf.get("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try f finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevMode)
    }
  }

  /** Temp dir helper rooted under target/ (inside the repo). */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), prefix)
    d.toAbsolutePath.toString
  }
}
