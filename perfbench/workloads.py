"""The benchmark's workloads: which flows run, on which input tables, into
which sink. Why each one exists is written in LAYERS.md."""

# A pass must fit the run budget (see LAYERS.md). Ten of the 72 pipe-DSL
# flows of graft.queries.Relational, chosen by choose_flows.py from a traced
# sizing run over all 72 at both scale factors: their pass splits between
# build, Catalyst, codegen, jobs and sink write within 2 percentage points
# of the full set's, at sf0.1 and at sf0.001. CoGroup, HashJoin, Merge, a
# trap and a TPC-H assembly were kept in by hand; the search chose the rest.
# Both workloads run them, so on these ten they differ only in input size
# and sink.
FLOWS = ["q02_filter_expr", "q03_regex_parse", "q04_cogroup_inner", "q06_hashjoin_nway",
         "q07_merge_union", "q124_tpch_q1", "q15_global_agg", "q18_bufferjoin",
         "q52_trap", "q78_sorted_mixed"]

# Two more flows ride with the small input, where their per-round and
# per-batch costs are not buried under execution:
# q80 is an AvailableNow streaming envelope (watermark dedup against state
# store), the only flow that runs graft.streaming; q64 is min-label
# propagation to a fixed point in graft.functions (a localCheckpoint and
# several jobs every round), the only flow that runs the iterative loops.
WORKLOADS = {
    "flows_sf0.1": {"sf": "sf0.1", "sink": "parquet", "flows": FLOWS},
    "flows_sf0.001": {"sf": "sf0.001", "sink": "noop",
                      "flows": FLOWS + ["q80_stream_dedup", "q64_minhash_transitive"]},
}
