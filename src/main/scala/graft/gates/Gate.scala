package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** One DuckDB-oracle-gated query, declared once.
  *
  * `run` builds the Spark result over a testdata directory; `oracle` is the
  * DuckDB SQL whose rows that result must hash-match. Column names and
  * float rounding are aligned pairwise — the checker sorts columns by name
  * and hashes values, so both sides round explicitly. `twin`, when set, is
  * a second query [[graft.Bench]] times beside the gate to split its time
  * into production and harness cost (see [[Twin]]).
  *
  * A gate's family is the object that declares it; [[Gates.all]] names
  * the families.
  */
final case class Gate(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    twin: Option[Twin] = None)

object Gate {

  /** A gate whose Spark query and DuckDB oracle are one ANSI SQL string,
    * run verbatim by both engines (zero drift). The dialect-neutral subset:
    * no window()/time_bucket, INTERVAL literals avoided, explicit rounding.
    */
  def sql(name: String, sql: String): Gate =
    Gate(name, (s, dir) => reg(s, dir).sql(sql), sql)

  /** Registers every testdata table of `dir` as a temp view. */
  private[gates] def reg(s: SparkSession, dir: String): SparkSession = {
    Tables.registerAll(s, dir); s
  }
}

/** A query [[graft.Bench]] times beside its gate, outside the gate's
  * timing and never toward the total. No twin is timed for a failed gate.
  */
sealed trait Twin {
  def run: (SparkSession, String) => DataFrame
}

object Twin {

  /** The production form of a gate whose query carries ORACLE-VERIFICATION
    * work the standing job never pays: the checked-sketch gates replay
    * exact distincts/quantile ranks purely so DuckDB can hash-gate the
    * sketch contract, while a deployment runs the plain sketch profile.
    * Bench reports the twin's time as prodSec and gate − twin as
    * harnessSec, so sum-of-medians comparisons stay honest as more
    * spec-pinned gate forms arrive.
    */
  final case class Production(run: (SparkSession, String) => DataFrame)
    extends Twin

  /** The replay-HARNESS floor of a streaming replay gate — the inverse
    * split of [[Production]]: here the measurable twin is the harness
    * (stage the gate's exact input, run the kernel-free minimum streaming
    * query over it — [[graft.streaming.FileReplay.harnessFloor]]), so
    * Bench reports floor time as harnessSec and gate − floor as prodSec.
    * The r10 decomposition priced this floor at ≈8-9 s of stream_corr's
    * ~18 s at sf0.1 — replay staging, query start/stop, per-epoch fixed
    * costs and sentinel epochs that a standing production stream never
    * pays — and until r13 the bench lines charged all of it to the kernels.
    */
  final case class HarnessFloor(run: (SparkSession, String) => DataFrame)
    extends Twin
}
