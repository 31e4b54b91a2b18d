package graft

/** Tier-1 DuckDB check for the gates that cross the Arrow codec: the DSv2
  * Arrow source and sink, the storage-partitioned layout writer, and the
  * driver-side IPC round trip, through [[GateOracle]].
  */
class ArrowOracleSpec extends SparkSpec with GateOracle {

  oracleTests(Seq(
    "a03_arrow_source", "a04_arrow_sink", "ns90_storage_partitioned_join",
    "ns237_arrow_interchange"))
}
