"""The benchmark's workloads: inputs, operation mix and round counts.

A round runs every operation of the workload once, one at a time (the
engine's sequential-execution invariant). Registry operations are
consumed by a noop sink; ``graph_etl`` writes real files.
"""

from __future__ import annotations

from dataclasses import dataclass

GRAPH_OPS = ("build", "write", "neo4j_export")

# Fixed rounds in the timed pass. The one warm-up round before it
# (which also checks outputs) brings the C1-compiled JVM to steady
# walls; more rounds do not fit the per-run time budget.
ROUNDS = 3

# Tables each graph_etl op scans: write and export each execute the
# five node/relationship plans of graph_etl_q.fixture_config
# (Party = customer + supplier, Nation, Order, CUSTOMER_FROM_NATION =
# customer + nation, ORDER_CONTAINS_PART = lineitem); build only plans.
GRAPH_READS = {
    "build": (),
    "write": ("customer", "supplier", "nation", "orders", "customer", "nation", "lineitem"),
    "neo4j_export": ("customer", "supplier", "nation", "orders", "customer", "nation", "lineitem"),
}
GRAPH_TABLES = ("customer", "supplier", "nation", "orders", "lineitem")

# Expected contents of the five graph tables the build writes, for the
# node types without a registry oracle of their own (the others reuse
# node_build_party / rel_foreign_key / rel_join_table).
GRAPH_ORACLES = {
    "nodes/Nation": """
        SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS _id,
               concat_ws('/', 'TestGraph', 'Nation', n_name) AS _uri,
               'TPCH' AS _source, n_nationkey, n_name, n_regionkey
        FROM nation""",
    "nodes/Order": """
        SELECT 'orders:' || CAST(o_orderkey AS VARCHAR) AS _id,
               concat_ws('/', 'TestGraph', 'Order', CAST(o_orderkey AS VARCHAR)) AS _uri,
               'TPCH' AS _source, o_orderkey, o_custkey, o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders""",
}
GRAPH_REGISTRY_ORACLES = {
    "nodes/Party": "node_build_party",
    "relationships/CUSTOMER_FROM_NATION": "rel_foreign_key",
    "relationships/ORDER_CONTAINS_PART": "rel_join_table",
}


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float  # multiple of the sf0.1 shape, see gen.generate
    tables: tuple[str, ...]
    ops: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        # The paper's job: sources, etl and the JVM scan/shuffle/write
        # path, with no Python workers (the control for the Arrow
        # boundary).
        Workload(
            "graph_etl",
            0.25, GRAPH_TABLES, GRAPH_OPS,
        ),
        # LLM-corpus curation: embedding and image kernels on the
        # Python-worker/Arrow boundary, and shuffle-heavy n-gram and band
        # joins in JVM operators; no writes (the control for etl).
        Workload(
            "curation",
            0.1, ("embeddings", "documents"),
            (
                "sim_cosine_topk", "multimodal_decode", "dedup_image_hamming",
                "dedup_minhash", "decontaminate_ngrams",
                "text_quality", "pipeline_training_order",
            ),
        ),
    )
}

# Every registry query any workload may run: each gets a per-layer
# plans.<query>_s metric on every workload (0 where it does not run).
PLAN_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.ops if q not in GRAPH_OPS)
