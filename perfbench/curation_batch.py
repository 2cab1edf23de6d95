"""Workload ``curation_batch``: a near-duplicate curation pipeline.

Each operation builds and runs the pipeline afresh over the seeded
corpus and writes its output to Parquet: a quality filter, exact
dedup, MinHash signatures, LSH candidate pairs, a Jaccard verification
of the candidates, connected components, keep-min-id and line dedup.

Checks, on the written output: every injected duplicate group keeps
exactly one survivor (its lowest id), no two survivors share a content
fingerprint or a group, every survivor id exists in the input, and no
boilerplate line shared by more than ``MAX_DF`` survivors is left in
any survivor's text.
"""

from __future__ import annotations

import pyarrow.parquet as pq

import inputs

MIN_WORDS = 15
JACCARD = 0.8
MAX_DF = 3
N_HASHES, BANDS, SHINGLE = 16, 8, 3


def _shingles(text_col):
    from pyspark.sql import functions as F

    tokens = F.split(text_col, " ")
    n = F.greatest(F.size(tokens) - (SHINGLE - 1), F.lit(1))
    return F.array_distinct(F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, SHINGLE))))


class CurationBatch:
    name = "curation_batch"
    block = 1
    min_ops = 3
    min_ops_traced = 3  # untraced, traced, untraced: a drift cancels

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs = max(100, int(400 * ctx.scale))

    def setup(self, rep: int) -> None:
        self.corpus = inputs.curation_corpus(self.ctx.seed, self.ctx.path(f"setup{rep}/corpus"),
                                             self.n_docs)
        self.input_bytes = self.corpus["bytes"]

    def warmup(self) -> None:
        """Three untimed runs: the first is markedly slower than the rest
        and the next two still a little, while the JVM compiles the
        pipeline's hot paths."""
        for k in range(3):
            self.pipeline(self.ctx.path(f"warmup{k}"))

    def traced_op(self, i: int) -> bool:
        """Traced runs alternate traced and untraced operations."""
        return i % 2 == 1

    def op(self, i: int) -> dict:
        out = self.ctx.path(f"out{i}")
        pairs = self.pipeline(out)
        return {"kind": "curation", "out": out, "items": self.n_docs,
                "payload_bytes": self.input_bytes,
                "stored_bytes": self.ctx.tree_bytes(out), "pairs": pairs}

    def pipeline(self, out: str) -> tuple:
        from pyspark.sql import functions as F

        from jane_spark.operators.components import connected_components
        from jane_spark.operators.curation import line_dedup
        from jane_spark.operators.dedup import (
            exact_dedup,
            minhash_candidate_pairs,
            minhash_signatures,
        )

        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("operators.build"):
            docs = spark.read.parquet(self.corpus["path"])
            good = docs.filter(F.size(F.split("text", " ")) >= MIN_WORDS)
            unique = exact_dedup(good, "text", [F.col("id").asc()])
            sigs = minhash_signatures(unique, "id", "text", N_HASHES, SHINGLE)
            cand = minhash_candidate_pairs(sigs, "id", N_HASHES, BANDS)
            sh = unique.select("id", _shingles(F.col("text")).alias("sh"))
            a, b = sh.alias("a"), sh.alias("b")
            verified = (
                cand.join(a, F.col("id_a") == F.col("a.id"))
                .join(b, F.col("id_b") == F.col("b.id"))
                .where(F.size(F.array_intersect("a.sh", "b.sh"))
                       >= F.lit(JACCARD) * F.size(F.array_union("a.sh", "b.sh")))
                .select("id_a", "id_b"))
        with tr.span("operators.connected_components"):
            comps = connected_components(verified, "id_a", "id_b",
                                         nodes=unique.select("id"))
        with tr.span("operators.line_dedup"):
            keep = comps.where(F.col("id") == F.col("comp")).select("id")
            clean = line_dedup(unique.join(keep, "id", "left_semi"), "id", "text",
                               max_df=MAX_DF)
        with tr.span("sources.write"):
            clean.write.mode("overwrite").parquet(out)
        if tr.op is None:
            return None
        return cand, verified

    # ------------------------------------------------------------ checks

    def layer_counts(self, rec: dict) -> dict:
        """LSH candidate and verified pair counts (traced runs only)."""
        cand, verified = rec.pop("pairs")
        n_cand, n_ver = cand.count(), verified.count()
        return {"lsh_candidate_pairs": n_cand, "lsh_verified_pairs": n_ver}

    def check(self, rec: dict) -> str | None:
        c = self.corpus
        table = pq.read_table(rec["out"]).to_pydict()
        ids, texts = table["id"], table["clean_text"]
        good = {i for i, t in c["text"].items() if len(t.split(" ")) >= MIN_WORDS}
        want = {}
        for i in sorted(good):
            want.setdefault(c["group"][i], i)
        if set(ids) - set(c["group"]):
            return "survivor ids missing from the input"
        if len(ids) != len(set(ids)):
            return "a document survives twice"
        groups = [c["group"][i] for i in ids]
        if len(groups) != len(set(groups)):
            return "two survivors share a duplicate group"
        if len({c["md5"][i] for i in ids}) != len(ids):
            return "two survivors share a content fingerprint"
        if sorted(ids) != sorted(want.values()):
            missing = sorted(set(want.values()) - set(ids))[:3]
            return f"{len(ids)} survivors, expected {len(want)}; missing {missing}"
        shared = [ln for ln in c["boilerplate"]
                  if sum(ln in c["text"][i].split("\n") for i in ids) > MAX_DF]
        for t in texts:
            if any(ln in t.split("\n") for ln in shared):
                return "a shared boilerplate line survived line dedup"
        return None

    def close(self) -> None:
        pass
