"""curate: one LLM-corpus curation pipeline run per op.

A ``.4mc`` corpus of seeded, non-templated documents (Zipf-distributed
words from a random vocabulary) with planted exact and near duplicates.
Each op is fourmc scan -> quality filter -> exact dedup ->
``dedup.minhash_lsh_pairs`` near-dedup -> ``.4mz`` sink, ending in the
single sink action. ``operators/`` does the work through shuffles and
joins; I/O is a few MB.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import data
import harness

DOCS = 1_000         # originals; ids 0..DOCS-1
EXACT = 50           # planted exact copies; ids above every original
NEAR = 50            # planted near copies: one word in ~40 replaced
DDL = "doc_id bigint, text string"
MIN_TOKENS = 20
MIN_QUALITY = 0.3
THRESHOLD = 0.8


class Workload(harness.Workload):
    name = "curate"
    unit = "doc"
    setup_reps = 3
    round_ops = 2   # an even count: the slower first run weighs the same in every median

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.dir = None
        self.out = ctx.path("curated")
        self.pinned: int | None = None

    def build(self, rep: int) -> None:
        from fourmc_spark.format.writer import write_file

        rng = np.random.default_rng(self.ctx.seed)
        vocab = data.vocabulary(rng)
        docs = data.texts(rng, vocab, DOCS, 8, 120)
        exact_src = rng.choice(DOCS, EXACT, replace=False)
        near_src = rng.choice(DOCS, NEAR, replace=False)
        rows = list(enumerate(docs))
        for j, s in enumerate(exact_src):
            rows.append((DOCS + j, docs[s]))
        for j, s in enumerate(near_src):
            words = docs[s].split(" ")
            for _ in range(max(1, len(words) // 40)):
                words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, len(vocab)))].decode())
            rows.append((DOCS + EXACT + j, " ".join(words)))
        order = rng.permutation(len(rows))
        body = b"".join(json.dumps({"doc_id": rows[k][0], "text": rows[k][1]}).encode() + b"\n"
                        for k in order)
        d = self.ctx.path(f"corpus-{rep}")
        os.makedirs(d)
        half = len(body) // 2
        cut = body.index(b"\n", half) + 1
        with self.ctx.tracer.span("format.write_file"):
            write_file(os.path.join(d, "docs-0.4mc"), body[:cut], codec="lz4")
            write_file(os.path.join(d, "docs-1.4mc"), body[cut:], codec="lz4")
        if self.dir is not None:
            import shutil

            shutil.rmtree(self.dir)
        self.dir, self.input_bytes = d, len(body)
        self.n_docs = len(rows)
        # an exact copy is removed whichever of the pair is longer-lived:
        # exact dedup keeps the smaller id, the original
        self.exact_ids = set(range(DOCS, DOCS + EXACT))

    def _corpus(self):
        return (self.ctx.spark.read.format("fourmc").option("jsonschema", DDL)
                .load(self.dir))

    def pipeline(self):
        from pyspark.sql import functions as F

        from fourmc_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from fourmc_spark.operators.text import quality_score

        tr = self.ctx.tracer
        with tr.span("datasource.load"):
            # the chain reads the corpus eight times: scan it once per run
            corpus = self._corpus().cache()
        with tr.span("operators.plan"):
            good_ids = (quality_score(corpus)
                        .where((F.col("n_tokens") >= MIN_TOKENS) & (F.col("quality") >= MIN_QUALITY))
                        .select("doc_id"))
            good = corpus.join(good_ids, "doc_id", "left_semi")
            keep = exact_dedup(good).select(F.col("keep_id").alias("doc_id"))
            unique = good.join(keep, "doc_id", "left_semi")
            pairs = minhash_lsh_pairs(unique, threshold=THRESHOLD)
            drop = pairs.select(F.col("b_id").alias("doc_id"))
            final = unique.join(drop, "doc_id", "left_anti")
        return final

    def op(self, i: int) -> tuple[float, bool]:
        from pyspark.sql import functions as F

        final = self.pipeline()
        with self.ctx.tracer.span("datasource.sink"):
            # one output file: a few hundred KB need no more, and the
            # stored size then does not hang on how AQE split the last stage
            (final.select(F.to_json(F.struct("doc_id", "text")).alias("value"))
             .coalesce(1).write.format("fourmc").option("codec", "zstd").option("level", "medium")
             .mode("overwrite").save(self.out))
        self.ctx.spark.catalog.clearCache()  # the corpus and the LSH shingle index
        ids = self._output_ids()
        ok = len(ids) == len(set(ids)) and not (self.exact_ids & set(ids))
        if self.pinned is None:
            self.pinned = len(ids)
        ok = ok and len(ids) == self.pinned
        return float(self.n_docs), ok

    def _output_ids(self) -> list[int]:
        from fourmc_spark.format.reader import decompress_file
        from fourmc_spark.sources.datasource import _list_files

        ids = []
        for p in _list_files(self.out):
            for line in bytes(decompress_file(p)).splitlines():
                ids.append(json.loads(line)["doc_id"])
        return ids

    def finish(self) -> dict:
        return {"attempted": 0, "failed": 0, "detail": {"kept_docs": self.pinned}}

    def stored_ratio(self) -> float:
        return data.tree_bytes(self.out) / self.input_bytes

    # -- per-layer hooks ----------------------------------------------------

    def read_options(self) -> dict:
        return {"path": self.dir, "jsonschema": DDL}

    def layer_metrics(self) -> dict:
        """Each operator stage materialised alone to the noop sink, and
        the LSH candidate and confirmed pair counts."""
        from pyspark.sql import functions as F

        from fourmc_spark.operators.dedup import (
            band_bucket_index, exact_dedup, minhash_lsh_pairs,
            minhash_signatures,
        )
        from fourmc_spark.operators.text import quality_score

        corpus = self._corpus()
        stages = {
            "operators.quality_s": lambda: quality_score(corpus),
            "operators.exact_dedup_s": lambda: exact_dedup(corpus),
            "operators.minhash_s": lambda: minhash_signatures(corpus),
            "operators.lsh_pairs_s": lambda: minhash_lsh_pairs(corpus, threshold=THRESHOLD),
        }
        m = {}
        for name, make in stages.items():
            t = time.perf_counter()
            with self.ctx.tracer.span(name):
                make().write.format("noop").mode("overwrite").save()
            m[name] = time.perf_counter() - t
            self.ctx.spark.catalog.clearCache()
        bands = band_bucket_index(minhash_signatures(corpus))
        cand = (bands.alias("a").join(bands.alias("b"), ["band", "bucket"])
                .where(F.col("a.doc_id") < F.col("b.doc_id"))
                .select("a.doc_id", "b.doc_id").distinct().count())
        confirmed = minhash_lsh_pairs(corpus, threshold=THRESHOLD).count()
        self.ctx.spark.catalog.clearCache()
        from fourmc_spark.sources.datasource import _list_files

        out_files = _list_files(self.out)
        m.update({
            "dedup.candidate_pairs": cand,
            "dedup.confirmed_pairs": confirmed,
            "dedup.confirm_ratio": confirmed / cand if cand else 0.0,
            "datasource.sink_files": len(out_files),
            "datasource.sidecar_bytes_ratio": 0.0,
        })
        return m
