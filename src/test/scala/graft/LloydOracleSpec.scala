package graft

/** Tier-1 DuckDB check for the gates that reach the shared integer Lloyd
  * loop (`Clustering.lloyd`), through [[GateOracle]].
  */
class LloydOracleSpec extends SparkSpec with GateOracle {

  oracleTests(Seq(
    "ns20_ivf_knn", "ns59_kmeans_int", "ns73_semdedup", "ns77_diversity_sample",
    "ns94_pq_adc", "ns95_ivfpq_adc", "ns96_ann_recall", "ns140_reciprocal_match",
    "ns229_silhouette", "ns232_hard_negatives"))
}
