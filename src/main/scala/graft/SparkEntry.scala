package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates.FxGates.fxCandles
import graft.gates.Gates

/** Name-keyed view of the gate registry [[graft.gates.Gates]]:
  * [[queries]] maps each gate's name to its Spark query over a testdata
  * directory, and [[oracleSql]] maps the same names to the DuckDB SQL the
  * query's rows must hash-match. Gates are declared, with their oracles,
  * in the per-family objects of `graft.gates`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full reference pipeline — gap-filled, carry-forward OHLC candles.
    */
  def entry(spark: SparkSession): DataFrame =
    fxCandles(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.byName.map { case (name, g) => name -> g.run }

  def oracleSql: Map[String, String] =
    Gates.byName.map { case (name, g) => name -> g.oracle }
}
