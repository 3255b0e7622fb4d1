package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Tuning

package object queries {

  /** A registry entry: the query body runs on the tuned session
    * ([[graft.engine.Tuning.tune]]). */
  private[queries] def q(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tuning.tune(s), dir)
}
