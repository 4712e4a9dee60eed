package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (JVM-wide; suites must not
  * stop it). Mirrors the driver harness config: UTC, few shuffle partitions. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4", appName = Some("graft-tests"))
    // "No Partition Defined for Window operation!": every single-partition
    // window is pinned to AuditSpec's allowlist, so the warning is noise here
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}
