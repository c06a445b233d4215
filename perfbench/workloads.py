"""The benchmark's workloads: a fixed list of registry builders at one scale
factor each. The benchmark seed only shuffles the order of the passes after the first.

The lists are small because a whole run (three set-ups, a cold pass, the
output check, warm-up and steady passes) has to fit the run budget; README.md
says what each list leaves out and why.
"""

WORKLOADS = {
    # Task CPU inside the graft.functions kernels (MinHash, per-document
    # gram sets, vector dot products), Util.cached reuse and shuffles.
    "curation_sf0.1": {
        "sf": 0.1,
        "queries": ["q_dedup_near", "q_dedup_ngram", "q_sim_topk"],
    },
    # Store commits: a streaming CDC apply loop (one MERGE per micro-batch)
    # and a merge-on-read MERGE that writes deletion vectors, beside a
    # time-travel read of a store table staged once in set-up; the only
    # workload that exercises graft.sources and graft.streaming.
    "lakehouse_sf0.1": {
        "sf": 0.1,
        "queries": ["q_stream_upsert", "q_store_merge_mor", "q_store_timetravel"],
    },
}
