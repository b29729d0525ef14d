package graft.queries

import java.nio.file.Files

import graft.{DuckOracle, SparkSpec}

/** Tier-1 oracle gate for the queries whose DuckDB oracle comes from a
  * shared SQL generator — Matching's bigram postings and integer BM25
  * chain, TextOps' MinHash signature and banding, the `graft.Knuth`
  * hashes and the token and fixpoint generators — so a change to one
  * generator is checked against every query that embeds it before the
  * full Verify sweep. Each runs at sf0.001 through
  * [[graft.Verify.dump]] and tools/check_oracle.py replays it. */
class SharedOracleSpec extends SparkSpec {

  private val sharedOracleQueries = Set(
    // Matching: bigramTfSql, bm25ScoredSql / bm25TopSql
    "q76_sparse_cosine", "q90_bm25", "q288_incremental_bm25",
    "q290_index_delta_report", "q295_lsm_compacted_bm25",
    "q298_lsm_tier_report", "q300_maxscore_bm25", "q308_rank_agreement",
    // TextOps.minhashSql / bandedSql (minLabelCte included)
    "q58_banded_dedup", "q66_dedup_clusters", "q87_incremental_dedup",
    "q136_split_leakage", "q149_minhash_calibration", "q163_neardup_eval",
    "q174_containment", "q181_curation_pipeline", "q192_leakage_safe_split",
    "q247_cluster_size_report", "q268_threshold_curve",
    // graft.Knuth: the word, the avalanche mix, the 3-gram hash
    "q122_temperature_mix", "q147_rendezvous_plan", "q153_kmv_distinct",
    "q160_kmv_algebra", "q162_hll_distinct", "q166_bloom_fpr",
    "q173_ams_f2", "q230_bootstrap_ci", "q240_packed_offsets",
    "q251_sample_estimate", "q34_simhash", "q69_simhash_neardup",
    "q311_simhash_dedup_exemplar",
    // TextOps: winnow fingerprints, word-5-gram pairs, the phrase
    // search; FixpointCC.labelsSql
    "q61_winnow_fingerprints", "q64_winnow_neardup",
    "q299_prefix_jaccard_join", "q307_exact_dedup_groups",
    "q310_exact_dedup_exemplar",
    "q302_incremental_prefix_dedup", "q314_incremental_dedup_exemplar",
    "q303_phrase_search", "q312_phrase_search_lsm", "q309_cc_fixpoint",
    "q313_dedup_groups_fixpoint")

  test("every query on a shared oracle generator matches DuckDB at sf0.001") {
    assume(DuckOracle.available, "python3+duckdb oracle not available on this host")
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-shared-oracle").toFile
    try {
      graft.Verify.dump(spark, sf, out.getPath, Some(sharedOracleQueries))
      val (rc, report) = DuckOracle.check(sf, out.getPath)
      val fails = report.filter(_.startsWith("FAIL"))
      assert(rc == 0 && fails.isEmpty, fails.mkString("\n"))
      assert(report.count(_.startsWith("OK")) == sharedOracleQueries.size,
        report.mkString("\n"))
    } finally graft.operators.LayoutCatalog.deleteRecursively(out)
  }
}
