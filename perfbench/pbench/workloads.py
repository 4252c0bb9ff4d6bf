"""The benchmark's workloads and the pinned JVM/Spark configuration.

Why each workload exists, which layer metric should move on which workload,
and which catalog queries were left out for the per-run time budget, is in
`perfbench/README.md`."""

WORKLOADS = {
    # Short broadcast-join TPC-H shapes and the reference jobs (Catalyst
    # planning, parquet scan, per-query job fixed cost), then LLM-curation
    # operators (graft.operators / plans / functions compute and the
    # catalog's heaviest exchange, q_prefix_join). One checkpoint job per
    # pass; no commits, IVM windows or streams.
    "batch": [
        "q1_pricing_summary", "q3_shipping_priority", "q9_product_profit",
        "q21_waiting_supplier", "q_wordcount", "q_topk_common_max",
        "q_prefix_join", "q_minhash_signatures", "q_span_dedup",
        "q_doc_quality",
    ],
    # A read-only iterative graph kernel (driver scheduling, one checkpoint
    # job per round), an IVM delete window (graft.Checkpoints, a graft-tsv
    # append and a copy-on-write MERGE) and a micro-batch stream into a
    # graft-tsv sink.
    "iterative": [
        "q_bfs_hops", "q_triangles_ivm_del", "q_stream_dsv2_sink",
    ],
}

CPUS = 4
HEAP = "2g"
# Untimed passes before timing: the cold one (codegen, JIT, artifact
# builds) and one warm one. Pass time keeps falling for several passes
# after the cold one as the JIT settles; the warm one takes the steepest
# part of that out of the timed passes, so their median depends less on
# how many of them fit in the run.
WARMUP_PASSES = 2

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]


def jvm_flags(tmpdir):
    """Pinned JVM flags: nothing is inherited from the environment
    (build.sbt falls back to -Xmx48g, RunOne to 32 CPUs)."""
    flags = []
    for p in _OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags + [
        # a fixed, pre-touched heap: the JIT-settling and GC-sizing drift
        # of a growing heap made pass times and VmHWM wander by 10-25%
        # between runs; peak RSS now moves with native and off-heap memory
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
        f"-XX:ActiveProcessorCount={CPUS}",
        # build.sbt's code-cache headroom; the harness sets its codegen
        # class-cache size (5000 entries) in the session
        "-XX:ReservedCodeCacheSize=1g",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmpdir}",
    ]
