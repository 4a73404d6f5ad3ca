"""The benchmark's workloads: which registered queries each one runs,
and why it was chosen. Query names are the keys of
`graft.SparkEntry.benchQueries`.

The seed of a run permutes the query order of every pass (the order
changes the codegen-cache and memo state a query meets) and draws the
kernel probe's inputs. The lake itself is fixed (`perfbench/lake`).
`cold_s` and `pass_s` are a workload's cold-pass and warm-pass times on
a quiet 4-core host; they only size the run. `settle` is the number of
warm passes left out of the end-to-end timings: C2 goes on compiling
Spark's driver code for several passes after the cold one (the
compiler threads' time per pass falls from ~8 s to ~2.5 s over the
first ten), and the first passes still carry most of it.
"""

WORKLOADS = {
    "soilmap": {
        "queries": ["a03_dominant_condition", "f04_depth_overlap", "v03_calc_aws",
                    "val07_restriction_depth", "r02_acreage_report"],
        "cold_s": 9.0, "pass_s": 2.0, "settle": 4,
        "why": "the paper's CreateSoilMaps + Valu1 batch over cached tables: SDV aggregation, "
               "Valu, validation and acreage-report execution, Catalyst with DepthOverlapRule",
    },
    "ann-lake": {
        "queries": ["n18_knn_graph", "d01_dedup_exact", "s15_cdc_apply",
                    "st09_stream_cdc_apply"],
        "cold_s": 12.0, "pass_s": 3.1, "settle": 2,
        "why": "construction- and driver-bound work and the write path: ANN k-NN graph, "
               "exact dedup, lake CDC apply, AvailableNow stream with checkpoint and commit logs",
    },
}


def warm_passes(workload, seconds):
    """Warm passes per run: as many as fit in `seconds` after the cold
    pass on a quiet 4-core host (the workload's `cold_s` and `pass_s`),
    and at least enough that five are timed after the settling ones.
    The count is fixed per run length, so every run does the same work
    and a slow host shows as slower passes rather than fewer."""
    return max(workload["settle"] + 5, round((seconds - workload["cold_s"]) / workload["pass_s"]))


# Layer of a query, from its name prefix (longest prefix wins).
MODULES = [("val", "validate"), ("st", "streaming"), ("a", "sdv"), ("p", "sdv"),
           ("f", "sdv"), ("v", "valu"), ("r", "report"), ("n", "ann"),
           ("d", "dedup"), ("s", "io")]
MODULE_NAMES = ["sdv", "valu", "validate", "report", "ann", "dedup", "io", "streaming"]


def module_of(query):
    for prefix, module in MODULES:
        if query.startswith(prefix) and query[len(prefix)].isdigit():
            return module
    return "other"
