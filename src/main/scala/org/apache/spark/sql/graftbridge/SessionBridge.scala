package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, classic}

/** `cloneSession` and the plan-level Dataset factory are `private[sql]`. */
object SessionBridge {

  /** `df` re-bound to a clone of its session whose conf adds `conf`: the
    * setting holds for the work done through the returned frame, and
    * the caller's session never sees it. */
  def withConf(df: DataFrame, conf: Map[String, String]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val clone = ds.sparkSession.cloneSession()
    conf.foreach { case (k, v) => clone.conf.set(k, v) }
    classic.Dataset.ofRows(clone, ds.logicalPlan)
  }
}
