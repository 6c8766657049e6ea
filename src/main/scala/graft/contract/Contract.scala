package graft
package contract

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

import graft.sources.TableIO

/** One query contract: a Spark query over a testdata directory plus,
  * where the result is SQL-expressible, the DuckDB oracle SQL it must
  * match bit for bit. Queries without an oracle are checked on rows only.
  *
  * Every query has a deterministic total ordering and engine-exact
  * numerics: floating aggregates go through DECIMAL(18,2) sums (exact,
  * order-independent in both Spark and DuckDB) and are cast back to
  * double; integer sums are cast to BIGINT on the oracle side (DuckDB
  * widens to HUGEINT); similarity scores are rounded to 6dp on both
  * sides. Column aliases match the oracle SQL exactly.
  *
  * @param bench false keeps the query out of `SparkEntry.benchQueries`
  */
final case class Contract(
    name: String,
    build: Contract.Build,
    oracle: Option[String] = None,
    bench: Boolean = true)

object Contract {

  /** (session, testdata directory) => result. */
  type Build = (SparkSession, String) => DataFrame

  def apply(name: String, build: Build, oracle: String): Contract =
    Contract(name, build, Some(oracle))

  /** Contracts by name. A name listed twice fails here: a plain `toMap`
    * would keep the last one and silently drop the other query.
    */
  def registry(contracts: Seq[Contract]): Map[String, Contract] = {
    val dups = contracts.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty, s"duplicate contract names: ${dups.toSeq.sorted.mkString(", ")}")
    contracts.map(c => c.name -> c).toMap
  }

  private[contract] def t(s: SparkSession, dir: String, name: String): DataFrame =
    TableIO.table(s, dir, name)

  /** Exact decimal-backed sum of a 2dp money column, returned as double. */
  // For 2dp MONEY columns only (TPC-H prices, balances) — exact for them.
  // Arbitrary-precision measures (events.value windows) use decimal(38,12)
  // instead so no sub-cent digits are rounded away per row.
  private[contract] def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
}
