"""Seeded input generators for the benchmark, each with the truth its
checks compare against.

Everything here is numpy / pyarrow / plain Python: the engine under test
sees only the files these functions write. Each generator returns a
``truth`` dict computed independently of the engine.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# etl_batch: the reference job's CSV input
# --------------------------------------------------------------------------

# The config of tests/test_pipeline_generic.py (the reference schema and
# its config.yaml shape), repeated here so the benchmark reads no test code.
ETL_CONF = {
    "environment": {"name": "DEV"},
    "run_parameters": {
        "start_date": "1992-01-01",
        "end_date": "1998-12-31",
        "output_base_path": "out",
        "date_filter_column": "fecha_proceso",
        "country_filter_column": "pais",
        "country_filter_value": "TODOS",
        "partition_columns": ["pais"],
    },
    "input_data": {
        "file_path": "raw",
        "file_format": "csv",
        "options": {"header": True},
        "schema": {
            "fields": [
                {"name": "pais", "type": "string"},
                {"name": "fecha_proceso", "type": "string"},
                {"name": "transporte", "type": "integer"},
                {"name": "ruta", "type": "integer"},
                {"name": "tipo_entrega", "type": "string"},
                {"name": "material", "type": "string"},
                {"name": "precio", "type": "double"},
                {"name": "cantidad", "type": "double"},
                {"name": "unidad", "type": "string"},
            ]
        },
    },
    "data_quality": {
        "input": {"min_expected_rows": 10, "required_columns": ["pais", "precio"]},
        "output": {"not_nulls": ["precio", "material"]},
    },
    "derived_cols": {
        "col1": {"source": "tipo_entrega", "name": "entrega_rutina", "conditions": ["F"]},
        "col2": {"source": "tipo_entrega", "name": "entrega_bonificada", "conditions": ["O"]},
    },
    "data_filling": {
        "text": {"columns": ["material"], "value": "NOT INFO"},
        "number": {"columns": ["precio"], "value": 0},
    },
    "unit_conversion": {
        "quantity": {"new_name": "cantidad_estandar", "name": "cantidad"},
        "price": {"new_name": "precio_estandar", "name": "precio"},
        "unit": {
            "new_name": "unidad_estandar",
            "new_value": "ST",
            "name": "unidad",
            "value": "CS",
            "factor": 20,
        },
    },
    "additional_fields": {"total": "total_estandar", "file": "filename"},
    "columns_config": {
        "columns_order": [
            "fecha_proceso", "pais", "material", "tipo_entrega",
            "entrega_rutina", "entrega_bonificada", "precio_origen",
            "cantidad_origen", "unidad_origen", "precio_estandar",
            "cantidad_estandar", "unidad_estandar", "total_estandar",
            "filename",
        ],
        "columns_rename": {
            "precio": "precio_origen",
            "cantidad": "cantidad_origen",
            "unidad": "unidad_origen",
        },
    },
}

_COUNTRIES = np.array(["GT", "PE", "EC", "SV", "HN", "JM"])
# four delivery types; the config's membership filter keeps F and O
_DELIVERY = np.array(["F", "O", "X", "Z"])
_NULLABLE = ("fecha_proceso", "tipo_entrega", "material", "precio", "cantidad")
_DAY0 = np.datetime64("1990-01-01")
_NDAYS = int((np.datetime64("2001-01-01") - _DAY0).astype(np.int64))  # dates 1990..2000; 1992..1998 pass
_LO = np.datetime64("1992-01-01")
_HI = np.datetime64("1998-12-31")


def _take(values: np.ndarray, idx: np.ndarray, mask) -> pa.Array:
    out = pc.take(pa.array(values.tolist()), pa.array(idx))
    return out if mask is None else _with_nulls(out, mask)


def _with_nulls(arr: pa.Array, mask: np.ndarray) -> pa.Array:
    return pc.if_else(pa.array(mask), pa.nulls(len(arr), arr.type), arr)


def etl_input(
    raw_dir: str, seed: int, n_rows: int, n_files: int, *, first_id: int = 0
) -> dict:
    """Write ``n_files`` header CSVs of ~``n_rows`` base rows in total
    under ``raw_dir``: 5% of rows carry one null, ~2% are exact copies
    of another row of the same file, CS and ST units mixed, four
    delivery types of which two pass, and dates from 1990 to 2000 of
    which 1992-1998 pass. Returns the truth of the job's output."""
    rng = np.random.default_rng(seed)
    os.makedirs(raw_dir, exist_ok=True)
    n = n_rows
    i_pais = rng.integers(0, len(_COUNTRIES), n)
    i_day = rng.integers(0, _NDAYS, n)
    day = _DAY0 + i_day.astype("timedelta64[D]")
    i_tipo = rng.integers(0, len(_DELIVERY), n)
    ruta = np.arange(first_id, first_id + n, dtype=np.int64)  # unique per row
    transporte = rng.integers(1, 50, n)
    i_material = rng.integers(0, 99_999, n)
    precio = rng.integers(100, 99_999, n) / 100.0  # whole cents
    cantidad = rng.integers(1, 500, n).astype(np.float64)
    is_cs = rng.random(n) < 0.5
    tipo = _DELIVERY[i_tipo]

    null_row = rng.random(n) < 0.05
    null_col = rng.integers(0, len(_NULLABLE), n)
    nulls = {c: null_row & (null_col == i) for i, c in enumerate(_NULLABLE)}

    fecha = pc.replace_substring(
        pc.cast(pa.array(day.astype("datetime64[D]")), pa.string()), "-", ""
    )
    material = pc.binary_join_element_wise(
        "MAT-", pc.cast(pa.array(i_material), pa.string()), ""
    )
    cols = {
        "pais": _take(_COUNTRIES, i_pais, None),
        "fecha_proceso": _with_nulls(fecha, nulls["fecha_proceso"]),
        "transporte": pa.array(transporte, type=pa.int32()),
        "ruta": pa.array(ruta, type=pa.int32()),
        "tipo_entrega": _take(_DELIVERY, i_tipo, nulls["tipo_entrega"]),
        "material": _with_nulls(material, nulls["material"]),
        "precio": pa.array(precio, mask=nulls["precio"]),
        "cantidad": pa.array(cantidad, mask=nulls["cantidad"]),
        "unidad": _take(np.array(["ST", "CS"]), is_cs.astype(np.int64), None),
    }
    table = pa.table(cols)
    pais = _COUNTRIES[i_pais]

    # survivors: parseable in-range date, delivery type F or O
    keep = (~nulls["fecha_proceso"]) & (day >= _LO) & (day <= _HI)
    keep &= (~nulls["tipo_entrega"]) & np.isin(tipo, ["F", "O"])
    price = np.where(nulls["precio"], 0.0, precio)  # fill_nulls(precio=0)
    qty = np.where(is_cs, cantidad * 20.0, cantidad)
    price_std = np.where(is_cs, np.floor(price / qty * 100.0 + 0.5) / 100.0, price)
    total = qty * price_std
    total_ok = keep & ~nulls["cantidad"]

    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    opts = pacsv.WriteOptions(include_header=True, quoting_style="none")
    in_bytes = 0
    n_dups = 0
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        part = np.arange(lo, hi)
        # planted exact duplicates: copies of rows of this same file
        # (the job's dedup spans every column, the lineage file name too)
        dups = part[rng.random(hi - lo) < 0.02]
        order = rng.permutation(np.concatenate([part, dups]))
        n_dups += len(dups)
        path = os.path.join(raw_dir, f"part-{f:03d}.csv")
        pacsv.write_csv(table.take(order), path, write_options=opts)
        in_bytes += os.path.getsize(path)
    return {
        "input_rows": n + n_dups,
        "input_bytes": in_bytes,
        "planted_dups": n_dups,
        "rows": int(keep.sum()),
        "total_fsum": math.fsum(total[total_ok].tolist()),
        "null_totals": int((keep & nulls["cantidad"]).sum()),
        "partitions": sorted(f"pais={p}" for p in set(pais[keep].tolist())),
    }


# --------------------------------------------------------------------------
# dedup_ingest: text corpus with planted exact and near duplicates
# --------------------------------------------------------------------------

DOC_TOKENS = 128
_VOCAB = 1 << 20
HASH_MOD = 1_000_000_007
MINHASH_P = 2_147_483_647


def _text(tokens: np.ndarray) -> str:
    return " ".join(f"w{t:05x}" for t in tokens.tolist())


def _random_docs(rng, n: int) -> np.ndarray:
    return rng.integers(0, _VOCAB, size=(n, DOC_TOKENS))


def _near_copy(rng, tokens: np.ndarray) -> np.ndarray:
    """Replace 1-3 token positions: word 3-gram Jaccard ~0.87-0.95."""
    out = tokens.copy()
    pos = rng.choice(DOC_TOKENS, size=int(rng.integers(1, 4)), replace=False)
    out[pos] = rng.integers(0, _VOCAB, len(pos))
    return out


def write_docs(dirpath: str, ids, token_rows, n_files: int) -> int:
    """``n_files`` parquet files of (doc_id long, text string) under
    ``dirpath``; returns their bytes."""
    os.makedirs(dirpath, exist_ok=True)
    ids, total = list(ids), 0
    bounds = np.linspace(0, len(ids), n_files + 1).astype(np.int64)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        table = pa.table(
            {
                "doc_id": pa.array(ids[lo:hi], type=pa.int64()),
                "text": pa.array([_text(t) for t in token_rows[lo:hi]], type=pa.string()),
            }
        )
        path = os.path.join(dirpath, f"part-{f:03d}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


class DocCorpus:
    """History corpus plus a stream of ingest batches drawn from one seed.

    Batch composition (fractions of the batch size): 2% exact copies of
    history docs, 2% exact copies of other batch docs, 10% near copies of
    history docs (each history doc is near-copied at most once per run),
    5% within-batch near-dup pairs, the rest fresh random docs. Sources
    of exact and near copies never overlap, so the expected pair set is
    unambiguous.

    Every doc also has an embedding: history docs are the vectors of
    ``index`` (a :class:`VectorCorpus`, doc id = vector id), fresh batch
    docs are drawn from its mixture, exact copies share their source's
    vector and near copies lie close to it."""

    def __init__(self, seed: int, n_history: int, batch_size: int, n_centroids: int):
        self.rng = np.random.default_rng(seed)
        self.history = _random_docs(self.rng, n_history)
        self.index = VectorCorpus(seed + 1, n_history, n_centroids)
        self.batch_size = batch_size
        self.next_id = n_history
        self.unused_history = list(self.rng.permutation(n_history))

    def write_history(self, dirpath: str, n_files: int) -> int:
        return write_docs(dirpath, range(len(self.history)), self.history, n_files)

    def _embed(self, roles, rows_len: int) -> np.ndarray:
        idx = self.index
        out = idx.draw(rows_len)
        for i, (role, src) in enumerate(roles):
            if role in ("exact_h", "near_h"):
                out[i] = idx.vectors[src]
            elif role in ("exact_w", "near_w"):
                out[i] = out[src]
            if role in ("near_h", "near_w"):
                out[i] = out[i] + 0.3 * self.rng.normal(size=DIM)
        return out

    def _take_history(self, k: int) -> list[int]:
        if len(self.unused_history) < k:
            raise RuntimeError("history exhausted: raise n_history")
        taken, self.unused_history = self.unused_history[:k], self.unused_history[k:]
        return taken

    def batch(self, dirpath: str, n_files: int, n_queries: int) -> dict:
        """Write the batch's doc files under ``dirpath/docs`` and the
        embeddings of ``n_queries`` sampled batch docs, the semantic
        near-dup probes, under ``dirpath/queries``; returns the truth."""
        rng, b = self.rng, self.batch_size
        n_exact_h, n_exact_w = b * 2 // 100, b * 2 // 100
        n_near_h, n_near_w = b * 10 // 100, b * 5 // 100
        n_fresh = b - n_exact_h - n_exact_w - n_near_h - 2 * n_near_w
        rows: list[np.ndarray] = []
        roles: list[tuple[str, int]] = []  # (role, source row or history id)

        for h in self._take_history(n_exact_h):
            rows.append(self.history[h])
            roles.append(("exact_h", h))
        for h in self._take_history(n_near_h):
            rows.append(_near_copy(rng, self.history[h]))
            roles.append(("near_h", h))
        fresh = _random_docs(rng, n_fresh + n_near_w)
        for i in range(n_fresh):
            rows.append(fresh[i])
            roles.append(("fresh", -1))
        for i in range(n_near_w):  # pair: a fresh doc and its near copy
            src = len(rows)
            rows.append(fresh[n_fresh + i])
            roles.append(("fresh", -1))
            rows.append(_near_copy(rng, fresh[n_fresh + i]))
            roles.append(("near_w", src))
        for src in rng.choice(n_fresh, size=n_exact_w, replace=False).tolist():
            rows.append(rows[n_exact_h + n_near_h + src])
            roles.append(("exact_w", n_exact_h + n_near_h + src))

        ids = np.arange(self.next_id, self.next_id + len(rows), dtype=np.int64)
        self.next_id += len(rows)
        pairs: list[tuple[int, int]] = []
        docs: dict[int, np.ndarray] = {}
        for i, (role, src) in enumerate(roles):
            if role == "near_h":
                pairs.append((int(src), int(ids[i])))
                docs[int(src)], docs[int(ids[i])] = self.history[src], rows[i]
            elif role == "near_w":
                pairs.append((int(ids[src]), int(ids[i])))
                docs[int(ids[src])], docs[int(ids[i])] = rows[src], rows[i]
        emb = self._embed(roles, len(rows))
        order = rng.permutation(len(rows))
        nbytes = write_docs(
            os.path.join(dirpath, "docs"), ids[order], [rows[i] for i in order], n_files
        )
        probes = np.sort(rng.choice(len(rows), size=n_queries, replace=False))
        nbytes += _write_vectors(os.path.join(dirpath, "queries"), ids[probes], emb[probes], 1)
        sigs = {d: minhash(t) for d, t in docs.items()}
        expected = {p for p in pairs if lsh_match(sigs[p[0]], sigs[p[1]])}
        return {
            "input_rows": len(rows),
            "input_bytes": nbytes,
            "exact_dropped": n_exact_h + n_exact_w,
            "fresh": len(rows) - n_exact_h - n_exact_w,
            "planted_pairs": sorted(pairs),
            "expected_pairs": sorted(expected),
            "ann": self.index.truth(ids[probes], emb[probes], K, NPROBE),
        }


def _minhash_coeffs(num_hashes: int, seed: int = 7) -> np.ndarray:
    coeffs, x = [], seed
    for _ in range(num_hashes):
        x = (x * 1_103_515_245 + 12_345) % MINHASH_P
        a = (x % (MINHASH_P - 1)) + 1
        x = (x * 1_103_515_245 + 12_345) % MINHASH_P
        coeffs.append((a, x % MINHASH_P))
    return np.array(coeffs, dtype=np.int64)


_COEFFS = _minhash_coeffs(16)


def minhash(tokens: np.ndarray, shingle_n: int = 3) -> np.ndarray:
    """Independent MinHash of a doc's word 3-grams, the engine's
    definition: 31-ary char polynomial mod 1e9+7 per distinct shingle,
    then min over ``(a*h + b) mod (2^31-1)`` for 16 fixed (a, b)."""
    words = [f"w{t:05x}" for t in tokens.tolist()]
    shingles = {" ".join(words[i : i + shingle_n]) for i in range(len(words) - shingle_n + 1)}
    hs = []
    for s in shingles:
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % HASH_MOD
        hs.append(h)
    h = np.array(hs, dtype=np.int64)
    return ((_COEFFS[:, :1] * h[None, :] + _COEFFS[:, 1:]) % MINHASH_P).min(axis=1)


def lsh_match(a: np.ndarray, b: np.ndarray, bands: int = 4, threshold: float = 0.7) -> bool:
    """The engine's pair rule: share one whole band, and estimated
    Jaccard (agreeing slots / 16) at least ``threshold``."""
    eq = a == b
    share = eq.reshape(bands, -1).all(axis=1).any()
    return bool(share and eq.sum() / len(a) >= threshold)


# --------------------------------------------------------------------------
# embeddings: clustered vectors, fixed centroids, IVF truth
# --------------------------------------------------------------------------

DIM = 64
K, NPROBE = 10, 4


class VectorCorpus:
    """``n`` clustered ``DIM``-d vectors around ``n_centroids`` fixed
    centroids, the index a semantic near-dup search probes."""

    def __init__(self, seed: int, n: int, n_centroids: int, noise: float = 1.75):
        self.rng = np.random.default_rng(seed)
        self.noise = noise
        self.centroids = self.rng.normal(size=(n_centroids, DIM))
        self.vectors = self.draw(n)
        self.ids = np.arange(n, dtype=np.int64)
        self.assign = _argmax_rows(_cos(self.vectors, self.centroids))

    def draw(self, n: int) -> np.ndarray:
        c = self.rng.integers(0, len(self.centroids), n)
        return self.centroids[c] + self.noise * self.rng.normal(size=(n, DIM))

    def write_corpus(self, dirpath: str, n_files: int) -> int:
        return _write_vectors(dirpath, self.ids, self.vectors, n_files)

    def write_centroids(self, dirpath: str) -> int:
        ids = np.arange(len(self.centroids), dtype=np.int64)
        return _write_vectors(dirpath, ids, self.centroids, 1)

    def truth(self, qids, q: np.ndarray, k: int, nprobe: int) -> dict:
        """Exact top-``k`` ids and the IVF top-``k`` cosines (probe the
        ``nprobe`` nearest centroids, smaller id first on ties) per query."""
        qc = _cos(q, self.vectors)
        exact = np.argsort(-qc, axis=1, kind="stable")[:, :k]
        probes = np.argsort(-_cos(q, self.centroids), axis=1, kind="stable")[:, :nprobe]
        ivf, scored = {}, 0
        for i in range(len(q)):
            cand = np.flatnonzero(np.isin(self.assign, probes[i]))
            scored += len(cand)
            top = cand[np.lexsort((cand, -qc[i, cand]))[:k]]
            ivf[int(qids[i])] = qc[i, top].tolist()
        return {
            "exact": {int(qids[i]): set(exact[i].tolist()) for i in range(len(q))},
            "ivf_cos": ivf,
            "scored": scored,
        }


def _cos(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    na = np.linalg.norm(a, axis=1)[:, None]
    nb = np.linalg.norm(b, axis=1)[None, :]
    return (a @ b.T) / (na * nb)


def _argmax_rows(m: np.ndarray) -> np.ndarray:
    return np.argmax(m, axis=1)  # first max: the smaller centroid id wins


def _write_vectors(dirpath: str, ids, vecs, n_files: int) -> int:
    os.makedirs(dirpath, exist_ok=True)
    total = 0
    bounds = np.linspace(0, len(ids), n_files + 1).astype(np.int64)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        table = pa.table(
            {
                "vec_id": pa.array(ids[lo:hi], type=pa.int64()),
                "embedding": pa.array(vecs[lo:hi].tolist(), type=pa.list_(pa.float64())),
            }
        )
        path = os.path.join(dirpath, f"part-{f:03d}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total

