"""The benchmark's workloads: each a job mix over the engine's catalog.

A job is one catalog entry. `reads` names the tables each job reads; their
generated row counts are the job's input rows for `rows_per_s`.
"""

WORKLOADS = {
    # spark.ml fits and feature stages over a memoized train/test split,
    # warm: every fit is a driver loop of many tiny Spark jobs reading the
    # memo, so per-job overhead, scheduling and memo hits do the work.
    "classify": {
        "cold": False,
        "reads": {
            "q57_lr_embeddings_confusion": ["embeddings"],
            "q59_rf_embeddings_confusion": ["embeddings"],
            "q121_dt_confusion": ["embeddings"],
            "q94_fm_confusion": ["embeddings"],
            "q73_nb_text_confusion": ["documents"],
            "q71_bucketize_scale": ["customer"],
            "q95_onehot_encode": ["customer"],
        },
    },
    # LLM-data curation, cold: the engine's memos are released before every
    # job, like a new crawl snapshot, so MinHash/SimHash kernels, pair joins,
    # shuffles and memo builds do the work. A star-schema scan, a
    # partitioned sink write and an AvailableNow stream replay ride along,
    # so the sources, plans and streaming layers are measured on fresh
    # input too.
    "curate": {
        "cold": True,
        "reads": {
            "q47_simhash": ["documents"],
            "q108_simhash_multiprobe": ["documents"],
            "q371_minhash_signatures": ["documents"],
            "q495_lsh_candidate_audit": ["documents"],
            "q01_pricing_summary": ["lineitem"],
            "q83_partitioned_write": ["orders"],
            "q113_stream_transform_with_state": ["events"],
        },
    },
}

# Jobs that fit a model (their `build` span is the fit).
ML_JOBS = {"q57_lr_embeddings_confusion", "q59_rf_embeddings_confusion",
           "q121_dt_confusion", "q94_fm_confusion", "q73_nb_text_confusion"}
# Confusion-matrix outputs that must beat the majority class.
MODEL_CHECKS = {"q57_lr_embeddings_confusion", "q59_rf_embeddings_confusion",
                "q94_fm_confusion"}
# Jobs that sign every document (the SimHash and MinHash kernels).
SIG_JOBS = {"q47_simhash", "q371_minhash_signatures"}
# The LSH candidate audit whose census gives the banding's precision.
LSH_AUDIT = "q495_lsh_candidate_audit"


def input_rows(workload, table_rows):
    """Rows each job of `workload` reads, from the generated table sizes."""
    return {job: sum(table_rows[t] for t in tables)
            for job, tables in WORKLOADS[workload]["reads"].items()}
