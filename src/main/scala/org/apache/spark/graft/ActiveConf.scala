package org.apache.spark.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{SparkConf, SparkContext}

/** The active SparkContext's own conf. `SparkContext.getActive` and
  * `SparkContext.conf` are `private[spark]`, and the public `getConf`
  * returns a copy, so a session extension that needs to set a default the
  * session's SharedState will read has to come through this package. */
object ActiveConf {
  /** The live conf of the active SparkContext, if there is one. */
  def get: Option[SparkConf] = SparkContext.getActive.map(_.conf)

  /** The active SparkContext's `hadoopConfiguration`, if there is one. */
  def hadoop: Option[Configuration] = SparkContext.getActive.map(_.hadoopConfiguration)
}
