package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Tuning

package object queries {

  /** A registry entry: the query body runs on the tuned session
    * ([[graft.engine.Tuning.tune]]). */
  private[queries] def q(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tuning.tune(s), dir)

  /** DuckDB twin of [[graft.operators.TextOps.tokens]], shared by the
    * oracles. Empty/whitespace-only docs must tokenize to ZERO tokens like
    * the Spark side: DuckDB's regexp_split_to_array('') yields [''] (len
    * 1), a silent divergence on degenerate corpora (round-10 advice). */
  private[queries] val toks =
    raw"(CASE WHEN trim(text) = '' THEN []::varchar[] ELSE regexp_split_to_array(trim(text), '\s+') END)"
}
