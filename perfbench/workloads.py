"""The benchmark's workloads: the query list of each, in pass order, and the
generated input sizes. README.md explains why each was chosen."""

# Row counts of the generated inputs (gen.sizes_for derives the other tables
# from these). The traced run's scaling fit also runs a 1/10-size sample.
FULL = {"lineitem_rows": 3_000, "documents_rows": 500, "embeddings_rows": 500}
SMALL = {"lineitem_rows": 300, "documents_rows": 50, "embeddings_rows": 50}

WORKLOADS = {
    # Melt chemistry: closed-form Column transforms (per-query fixed cost)
    # next to the per-row iterative solvers and their memos.
    "geochem": [
        # closed forms: oxide total, thermometer, the EP3 chain (conversions,
        # thermometer and Fe split in one plan)
        "q_total",
        "q_thermo_putirka2008_15",
        "q_ep3_chain",
        # memoised EOS solvers (IW, QFM, Deng2020)
        "q_fo2_iw_full",
        "q_fo2_qfm_full",
        "q_fe3fe2_deng2020",
        # memo-less solvers (Shishkina, KdIter, Fe3Fe2Iter, ImSolve)
        "q_saturation_shishkina",
        "q_kd_toplis2005_iterative",
        "q_fe3fe2_armstrong2019_iterative",
        "q_saturation_mixed",
    ],
    # Corpus operators: shuffle fan-out with exchange reuse, next to the
    # driver-side index and artifact builds.
    "corpus_index": [
        # fan-out over the shared corpus chain: n-gram hashing, inverted
        # index, TF-IDF (reuses an exchange), benchmark decontamination
        "q_dedup_ngram_jaccard",
        "q_inverted_index",
        "q_tfidf_topterms",
        "q_decontaminate",
        # once-per-JVM persisted dedup labels, and two consumers of them
        "q_dedup_clusters",
        "q_dedup_report",
        "q_split_leakage",
        # per-execution eager build: sketch rollup written, then merged
        "q_sketch_rollup",
    ],
}

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
