"""The operator query mix and its independent checks.

One or two registry queries per operator module (grouped by the module
their Spark function lives in), each run to ``collect()`` over the
tables of ``perfbench/tables.py``.

Every query but the two MinHash ones is checked against its registry
DuckDB oracle over the same Parquet files, as a canonical hash with the
normalization of ``tests/oracle.py``.  The MinHash queries' registry
oracle is a committed golden of their own output on fixed test data,
which cannot cover generated inputs, so they are checked against the
exact word-3-gram Jaccard pairs that DuckDB computes from the
``dedup_ngram_jaccard`` oracle: every reported pair must be an exact
pair with the same Jaccard, and every exact pair at Jaccard >= 0.9
must be reported (banding misses such a pair with probability below
1e-7).
"""

from __future__ import annotations

from mahjong_etl_spark.plans.registry import registry
from star import canonical_hash
from tests.oracle import run_oracle

# (query name, how it is checked)
QUERIES = [
    ("dedup_minhash_lsh", "jaccard"),
    ("dedup_minhash_lsh_persisted", "jaccard"),
    ("similarity_semantic_search", "oracle"),
    ("corpus_dsir_selection", "oracle"),
    ("text_bm25_search", "oracle"),
    ("multimodal_frame_sample", "oracle"),
    ("er_resolve_entities", "oracle"),
    ("q8_market_share", "oracle"),
    ("events_session_paths", "oracle"),
]
NAMES = [name for name, _ in QUERIES]
RECALL_JACCARD = 0.9


def module(name: str) -> str:
    """Layer name of a query: its Spark function's module, without the
    package prefix (``operators.dedup``, ``plans.queries``)."""
    return registry()[name].spark_fn.__module__.removeprefix("mahjong_etl_spark.")


class Expected:
    """What every query must return on the tables under ``root``,
    computed by DuckDB alone."""

    def __init__(self, root: str):
        reg = registry()
        self.hashes: dict[str, str] = {}
        for name, how in QUERIES:
            if how == "oracle":
                self.hashes[name] = canonical_hash(*run_oracle(reg[name].oracle, root))
        _, rows = run_oracle(reg["dedup_ngram_jaccard"].oracle, root)
        self.jaccard = {(a, b): j for a, b, j in rows}
        self.n_recall_pairs = sum(j >= RECALL_JACCARD for j in self.jaccard.values())

    def problem(self, name: str, cols: list[str], rows) -> str | None:
        """None if the result is right, else what is wrong with it."""
        if name in self.hashes:
            if canonical_hash(cols, rows) != self.hashes[name]:
                return f"{name}: result differs from its DuckDB oracle"
            return None
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
        wrong = [p for p, j in got.items() if self.jaccard.get(p) != j]
        missed = [p for p, j in self.jaccard.items() if j >= RECALL_JACCARD and p not in got]
        if wrong or missed or len(got) != len(rows):
            return (f"{name}: {len(wrong)} pairs not exact-Jaccard pairs, "
                    f"{len(missed)} pairs at Jaccard >= {RECALL_JACCARD} missed")
        return None
