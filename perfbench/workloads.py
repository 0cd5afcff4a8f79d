"""The workloads. Each drives the engine only through its public
functions, on files written by ``gen``, and checks every op's output
against the generator's truth.

A workload has four steps: ``build`` (fixed inputs, stores and indexes;
part of set-up), ``prepare`` (fresh input files for one op, untimed),
``run`` (the op, timed; traced when given a tracer) and ``check``
(compare with the truth, untimed).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
from contextlib import nullcontext

import pyarrow.parquet as pq

import gen
from gen import K, NPROBE
from pyspark_data_processing_challenge_spark import pipeline
from pyspark_data_processing_challenge_spark.functions import fast_text
from pyspark_data_processing_challenge_spark.operators import dedup, quality, similarity
from pyspark_data_processing_challenge_spark.sources import read_table, write_table

SCALES = {
    "full": {
        "etl_rows": 100_000, "etl_files": 4,
        "history_docs": 2_000, "batch_docs": 500, "doc_files": 4,
        "centroids": 32, "queries": 48,
    },
    "toy": {
        "etl_rows": 4_000, "etl_files": 2,
        "history_docs": 600, "batch_docs": 200, "doc_files": 2,
        "centroids": 8, "queries": 8,
    },
}


class OpFailed(Exception):
    """An op's output disagrees with the generator's truth."""


def _span(tracer, layer, name):
    return tracer.span(layer, name) if tracer is not None else nullcontext()


def _files(path: str) -> list[str]:
    out = []
    for root, _, names in os.walk(path):
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return out


def _bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, scale: dict):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.op_seq = 0

    def op_dir(self) -> str:
        self.op_seq += 1
        d = os.path.join(self.work, f"op{self.op_seq:04d}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def layer_extras(self) -> dict[str, float]:
        """Per-layer figures the workload measures itself, once per run."""
        return {}


# --------------------------------------------------------------------------


class EtlBatch(Workload):
    """``pipeline.run(write=True)``: the reference job on a fresh
    multi-file CSV per op."""

    name = "etl_batch"

    def build(self, rep: int) -> None:
        pass  # the job has no store; every op reads its own fresh input

    def prepare(self) -> dict:
        d = self.op_dir()
        truth = gen.etl_input(
            os.path.join(d, "raw"), self.seed * 1_000_003 + self.op_seq,
            self.scale["etl_rows"], self.scale["etl_files"],
            first_id=self.op_seq * self.scale["etl_rows"],
        )
        return {"dir": d, "truth": truth}

    def run(self, inp: dict, tracer=None) -> dict:
        conf, base = gen.ETL_CONF, inp["dir"]
        if tracer is None:
            pipeline.run(self.spark, conf, base_dir=base, write=True)
            return {}
        # the body of pipeline.run, one layer per span, each output
        # materialized so the next layer's jobs carry only its own work
        dq = conf["data_quality"]
        with tracer.span("sources", "read_input"):
            df = pipeline.read_input(self.spark, conf, base_dir=base).localCheckpoint()
        with tracer.span("quality", "check_input"):
            quality.check_input(
                df, min_rows=int(dq["input"]["min_expected_rows"]),
                required_columns=dq["input"]["required_columns"],
            )
        with tracer.span("relational", "transform"):
            out, _ = pipeline.transform(df, conf)
            out = out.localCheckpoint()
        rename = conf["columns_config"]["columns_rename"]
        with tracer.span("quality", "check_no_nulls"):
            quality.check_no_nulls(out, [rename.get(c, c) for c in dq["output"]["not_nulls"]])
        rp = conf["run_parameters"]
        with tracer.span("sources", "write_table"):
            write_table(out, {
                "path": os.path.join(base, rp["output_base_path"], "DEV"),
                "partition_by": rp["partition_columns"], "mode": "overwrite",
            })
        return {}

    def check(self, inp: dict, _res: dict) -> dict:
        t = inp["truth"]
        out_dir = os.path.join(inp["dir"], "out", "DEV")
        parts = sorted(p for p in os.listdir(out_dir) if p.startswith("pais="))
        files = _files(out_dir)
        total = pq.read_table(out_dir, columns=["total_estandar"]).column(0)
        n_null = total.null_count
        got = math.fsum(v for v in total.to_pylist() if v is not None)
        errors = []
        if len(total) != t["rows"]:
            errors.append(f"rows {len(total)} != {t['rows']}")
        if got != t["total_fsum"]:
            errors.append(f"sum(total_estandar) {got!r} != {t['total_fsum']!r}")
        if n_null != t["null_totals"]:
            errors.append(f"null totals {n_null} != {t['null_totals']}")
        if parts != t["partitions"]:
            errors.append(f"partitions {parts} != {t['partitions']}")
        if errors:
            raise OpFailed("; ".join(errors))
        out = {
            "rows": t["input_rows"], "found": len(total), "expected": t["rows"],
            "in_bytes": t["input_bytes"], "out_bytes": _bytes(files),
            "files_written": len(files),
        }
        shutil.rmtree(inp["dir"])
        return out


# --------------------------------------------------------------------------


class DedupIngest(Workload):
    """Incremental ingest of a fresh doc batch against prebuilt
    fingerprint and banded-MinHash stores: exact dedup, near-dup pairs,
    a semantic near-dup search of sampled batch docs' embeddings in the
    history's IVF index, then an append of the batch's new keys to both
    stores."""

    name = "dedup_ingest"

    def build(self, rep: int) -> None:
        s = self.scale
        self.corpus = gen.DocCorpus(
            self.seed * 1_000_003 + rep, s["history_docs"], s["batch_docs"], s["centroids"]
        )
        root = os.path.join(self.work, f"store{rep}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        hist_path = os.path.join(root, "history")
        self.corpus.write_history(hist_path, s["doc_files"])
        self.index_dir = os.path.join(root, "index")
        self.centroid_dir = os.path.join(root, "centroids")
        self.corpus.index.write_corpus(self.index_dir, s["doc_files"])
        self.corpus.index.write_centroids(self.centroid_dir)
        self.scored, self.ann_hits, self.ann_total = [], 0, 0
        self.fp_store = os.path.join(root, "fingerprints")
        self.band_store = os.path.join(root, "bands")
        history = read_table(self.spark, {"path": hist_path})
        empty_fps = self.spark.createDataFrame([], "__fp0 long, __fp1 long")
        fresh, _ = dedup.incremental_exact_dedup(history, empty_fps, ["text"], keep_fps=True)
        write_table(fresh.select("__fp0", "__fp1"), {"path": self.fp_store})
        empty_bands = self.spark.createDataFrame(
            [], "doc long, minhash array<long>, band int, key string"
        )
        caches, fresh_bands = [], []
        dedup.incremental_minhash_near_duplicates(
            history, empty_bands, "text", "doc_id", cache_into=caches, fresh_into=fresh_bands
        )
        write_table(fresh_bands[0], {"path": self.band_store})
        dedup.release_caches(caches)

    def prepare(self) -> dict:
        d = self.op_dir()
        truth = self.corpus.batch(d, self.scale["doc_files"], self.scale["queries"])
        return {"dir": d, "truth": truth}

    def run(self, inp: dict, tracer=None) -> dict:
        spark, caches, fresh_bands = self.spark, [], []
        before = set(_files(self.fp_store) + _files(self.band_store))
        with _span(tracer, "sources", "read_table"):
            batch = read_table(spark, {"path": os.path.join(inp["dir"], "docs")})
            queries = read_table(spark, {"path": os.path.join(inp["dir"], "queries")})
            index = read_table(spark, {"path": self.index_dir})
            cents = read_table(spark, {"path": self.centroid_dir})
            if tracer is not None:
                batch, queries, index, cents = (
                    f.localCheckpoint() for f in (batch, queries, index, cents)
                )
        fps = read_table(spark, {"path": self.fp_store})
        bands = read_table(spark, {"path": self.band_store})
        with _span(tracer, "dedup", "incremental_exact_dedup"):
            fresh, _ = dedup.incremental_exact_dedup(
                batch, fps, ["text"], keep_fps=True, cache_into=caches
            )
            # one materialized frame feeds both the near-dup step and the
            # fingerprint append (the incremental_exact_dedup contract)
            fresh = fresh.localCheckpoint()
            n_fresh = fresh.count()
        docs = fresh.select("doc_id", "text")
        if tracer is not None:
            # the signatures the near-dup step computes, measured alone
            with tracer.span("functions", "with_minhash_fast"):
                fast_text.with_minhash_fast(docs, "text").localCheckpoint()
        with _span(tracer, "dedup", "incremental_minhash_near_duplicates"):
            pairs, _ = dedup.incremental_minhash_near_duplicates(
                docs, bands, "text", "doc_id", cache_into=caches, fresh_into=fresh_bands
            )
            found = {(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()}
            new_bands = fresh_bands[0]
            if tracer is not None:
                new_bands = new_bands.localCheckpoint()
        if tracer is not None:
            # the index assignment ivf_topk repeats inside, measured alone
            with tracer.span(None, "ivf_assign"):
                similarity.ivf_assign(
                    index, cents, centroid_id="vec_id", centroid_vec="embedding"
                ).localCheckpoint()
        with _span(tracer, "similarity", "ivf_topk"):
            neighbors = similarity.ivf_topk(index, queries, cents, k=K, nprobe=NPROBE).collect()
        with _span(tracer, "sources", "write_table"):
            write_table(fresh.select("__fp0", "__fp1"), {"path": self.fp_store, "mode": "append"})
            write_table(new_bands, {"path": self.band_store, "mode": "append"})
        dedup.release_caches(caches)
        written = [p for p in _files(self.fp_store) + _files(self.band_store) if p not in before]
        return {"n_fresh": n_fresh, "pairs": found, "neighbors": neighbors, "written": written}

    def check(self, inp: dict, res: dict) -> dict:
        t = inp["truth"]
        expected = {tuple(p) for p in t["expected_pairs"]}
        planted = {tuple(p) for p in t["planted_pairs"]}
        errors = []
        if res["n_fresh"] != t["fresh"]:
            errors.append(
                f"exact dups dropped {t['input_rows'] - res['n_fresh']} != {t['exact_dropped']}"
            )
        if res["pairs"] != expected:
            errors.append(
                f"near-dup pairs: {len(expected - res['pairs'])} expected missing, "
                f"{len(res['pairs'] - expected)} unexpected"
            )
        hits, bad = _check_topk(res["neighbors"], t["ann"])
        errors += bad[:3]
        if errors:
            raise OpFailed("; ".join(errors))
        shutil.rmtree(inp["dir"])
        n = len(t["ann"]["ivf_cos"])
        self.scored.append(t["ann"]["scored"] / (n * K))
        self.ann_hits += hits
        self.ann_total += n * K
        return {
            "rows": t["input_rows"], "found": len(res["pairs"] & planted), "expected": len(planted),
            "in_bytes": t["input_bytes"], "out_bytes": _bytes(res["written"]),
            "files_written": len(res["written"]),
        }

    def layer_extras(self) -> dict[str, float]:
        return {
            "sources.store_files": float(len(_files(self.fp_store) + _files(self.band_store))),
            "similarity.scored_per_result": statistics.median(self.scored),
            "similarity.recall_at_10": self.ann_hits / self.ann_total,
        }


def _check_topk(rows, truth: dict) -> tuple[int, list[str]]:
    """(neighbors in the exact top-k, errors): each query's top-k cosines
    must equal the independent IVF's to 1e-9 (robust to exact ties)."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    hits, errors = 0, []
    for qid, want in truth["ivf_cos"].items():
        ranked = sorted(got.get(qid, []))
        cos = [c for _, _, c in ranked]
        if len(cos) != len(want) or any(abs(a - b) > 1e-9 for a, b in zip(cos, want)):
            errors.append(f"query {qid}: top-{K} cosines differ from the IVF truth")
        hits += len({n for _, n, _ in ranked} & truth["exact"][qid])
    return hits, errors


WORKLOADS = {w.name: w for w in (EtlBatch, DedupIngest)}
