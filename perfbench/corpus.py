"""Document curation and admission, the dedup ops of the ``dbt_cycle`` run.

- ``curate``: Gopher text filter, MinHash self-dedup, star connected
  components over the near-duplicate pairs, keep one document per
  component, and write the stored MinHash index of the survivors.
- ``admit``: read the stored index, find the incoming batch's
  near-duplicates against it, and append the admitted documents to the
  index under a ``batch_id``.

Checks: every reported pair has exact Jaccard (word 3-shingles, as the
engine shingles) at or above the threshold, and every injected
high-similarity duplicate whose two documents reached the dedup stage is
found.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

THRESHOLD = 0.7


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _non_roots(pairs: set[tuple[int, int]]) -> set[int]:
    """Members of each connected component other than its minimum id."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}


class Corpus:
    """The documents of ``gen.gen_corpus`` and a MinHash index under ``run_dir``."""

    def __init__(self, spark, root: str, meta: dict, run_dir: str):
        self.spark, self.root, self.meta = spark, root, meta
        self.index = os.path.join(run_dir, "minhash_index")
        docs = pq.read_table(os.path.join(root, "documents.parquet"), columns=["doc_id", "text"])
        self.texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
        for b in meta["batches"]:
            t = pq.read_table(b["path"])
            self.texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        self.indexed: set[int] = set()

    def ops(self, tag: str, batch: int) -> list:
        """A curate (which rebuilds the index), then the admission of
        incoming batch ``batch`` against the index it wrote."""
        return [
            ("curate", f"curate_{tag}", self.curate),
            ("admit", f"admit_{tag}_{batch}", lambda: self.admit(batch, tag)),
        ]

    def curate(self):
        from dbt_ci_demo_spark.operators import dedup, text
        from dbt_ci_demo_spark.sources.catalog import load_table

        docs = load_table(self.spark, self.root, "documents").select("doc_id", "text")
        keep = text.gopher_rules(docs, "text", "doc_id").filter("keep").select("doc_id")
        kept = docs.join(keep, "doc_id")
        pairs = dedup.minhash_near_duplicates(kept, "text", "doc_id", threshold=THRESHOLD)
        cc = dedup.connected_components_star(pairs.select("id_a", "id_b"))
        dropped = cc.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
        survivors = kept.join(dropped, "doc_id", "left_anti")
        dedup.write_minhash_index(survivors, "text", "doc_id", self.index, mode="overwrite")
        pair_rows = [(r.id_a, r.id_b, r.jaccard) for r in pairs.collect()]
        kept_ids = {r.doc_id for r in kept.collect()}
        return "curate", pair_rows, kept_ids

    def admit(self, b: int, tag: str):
        from dbt_ci_demo_spark.operators import dedup

        batch = self.spark.read.parquet(self.meta["batches"][b]["path"])
        index = dedup.read_minhash_index(self.spark, self.index)
        pairs = dedup.minhash_near_duplicates_against(
            None, batch, "text", "doc_id", corpus_index=index, threshold=THRESHOLD
        )
        dups = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        admitted = batch.join(dups, "doc_id", "left_anti")
        dedup.write_minhash_index(admitted, "text", "doc_id", self.index, mode="append",
                                  batch_id=f"{tag}-batch-{b}")
        return "admit", [(r.id_a, r.id_b, r.jaccard) for r in pairs.collect()], b

    def check(self, result) -> str | None:
        kind, pairs, info = result
        for a, b, _ in pairs:
            j = _jaccard(self.texts[a], self.texts[b])
            if j < THRESHOLD:
                return f"{kind}: pair ({a}, {b}) has exact Jaccard {j:.3f} < {THRESHOLD}"
        found = {(min(a, b), max(a, b)) for a, b, _ in pairs}
        if kind == "curate":
            kept_ids = info
            self.indexed = kept_ids - _non_roots(found)
            want = [(o, d) for o, d in self.meta["injected"] if o in kept_ids and d in kept_ids]
        else:
            want = [(o, d) for o, d in self.meta["batches"][info]["injected"] if o in self.indexed]
        missed = [p for p in want if (min(p), max(p)) not in found]
        if missed:
            return f"{kind}: {len(missed)} of {len(want)} injected duplicates not found, e.g. {missed[:3]}"
        return None
