package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.contract._

/** The query contract: every query the engine answers, each with its DuckDB
  * oracle where one exists. The contracts live per engine family in
  * `graft.contract.<Family>Contracts`, each Spark query directly above
  * its oracle SQL; this object is their concatenation.
  */
object SparkEntry {

  private val contracts: Seq[Contract] = Seq(
    RelationalContracts.contracts,
    LayoutContracts.contracts,
    EventContracts.contracts,
    AnomalyContracts.contracts,
    GraphContracts.contracts,
    SketchContracts.contracts,
    TextContracts.contracts,
    DedupContracts.contracts,
    CorpusContracts.contracts,
    SimilarityContracts.contracts,
    MultimodalContracts.contracts,
    LabelContracts.contracts,
    PreferenceContracts.contracts).flatten

  private lazy val registry: Map[String, Contract] = Contract.registry(contracts)

  /** Flagship query on the sf0.001 testdata, smoke-checked for rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_revenue")(spark, "/root/testdata/sf0.001")

  lazy val queries: Map[String, Contract.Build] =
    registry.map { case (name, c) => name -> c.build }

  lazy val oracleSql: Map[String, String] =
    registry.collect { case (name, Contract(_, _, Some(sql), _)) => name -> sql }

  /** Names run by Bench: every contract not marked `bench = false`. */
  lazy val benchQueries: Seq[String] =
    contracts.filter(_.bench).map(_.name).sorted
}
