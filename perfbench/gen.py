"""Seeded input generators and their expected answers.

Everything here is numpy/pyarrow on the driver, independent of the engine
under test: the benchmark writes its own GeoTIFFs (a small TIFF writer
below), its own polygon layer, documents table, text corpus and embeddings.
The engine only ever sees the generated files. Each generator also returns
the answer the engine must reproduce, computed here from the generator's
own arrays, so a pass can be checked without trusting the engine.

The same ``seed`` always yields the same inputs; sizes do not depend on the
seed, only content does, so pass times stay comparable across seeds.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EARTH_RADIUS_M = 6_371_008.8  # world plane metres → lat/lng degrees

# farm extent shared by tiles and polygons (projected metres)
X0, X1 = 470_000.0, 630_000.0
Y0, Y1 = 5_180_000.0, 5_420_000.0


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


# -- GeoTIFF writer -----------------------------------------------------------
_SAMPLE_FORMAT = {"u": 1, "i": 2, "f": 3}
_COMPRESSION = {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773}


def _lzw_literal(data: bytes) -> bytes:
    """Valid TIFF LZW stream of literal codes: ClearCode every 250 bytes
    keeps the code width at 9 bits, so the stream packs with numpy. The
    decoder still runs its full code loop (one code per byte)."""
    b = np.frombuffer(data, np.uint8).astype(np.uint16)
    n_blocks = max(1, -(-len(b) // 250))
    codes = []
    for i in range(n_blocks):
        codes.append(np.array([256], np.uint16))
        codes.append(b[i * 250 : (i + 1) * 250])
    codes.append(np.array([257], np.uint16))
    c = np.concatenate(codes)
    bits = ((c[:, None] >> np.arange(8, -1, -1, dtype=np.uint16)) & 1).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _packbits_literal(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 128):
        blk = data[i : i + 128]
        out.append(len(blk) - 1)
        out += blk
    return bytes(out)


def _compress(chunk: np.ndarray, compression: str, predictor: bool) -> bytes:
    if predictor:  # horizontal differencing along each row (integer wrap)
        d = chunk.copy()
        d[:, 1:] = chunk[:, 1:] - chunk[:, :-1]
        chunk = d
    raw = np.ascontiguousarray(chunk).astype(chunk.dtype.newbyteorder("<")).tobytes()
    if compression == "deflate":
        return zlib.compress(raw, 1)
    if compression == "lzw":
        return _lzw_literal(raw)
    if compression == "packbits":
        return _packbits_literal(raw)
    return raw


def tiff_bytes(
    arr: np.ndarray,
    origin: tuple[float, float],
    scale: float,
    tiled: bool,
    compression: str,
    predictor: bool = False,
    block: int = 64,
) -> bytes:
    """Single-band little-endian GeoTIFF: tiled (block×block, edge tiles
    zero-padded) or striped (``block//4`` rows per strip)."""
    h, w = arr.shape
    chunks = []
    if tiled:
        for ty in range(0, h, block):
            for tx in range(0, w, block):
                t = np.zeros((block, block), arr.dtype)
                part = arr[ty : ty + block, tx : tx + block]
                t[: part.shape[0], : part.shape[1]] = part
                chunks.append(_compress(t, compression, predictor))
    else:
        rps = max(1, block // 4)
        for y in range(0, h, rps):
            chunks.append(_compress(arr[y : y + rps], compression, predictor))

    data = bytearray(b"II*\x00\x00\x00\x00\x00")
    offsets = []
    for c in chunks:
        offsets.append(len(data))
        data += c
        if len(data) % 2:
            data += b"\x00"
    counts = [len(c) for c in chunks]
    SHORT, LONG, DOUBLE = 3, 4, 12
    tags = [
        (256, LONG, [w]),
        (257, LONG, [h]),
        (258, SHORT, [arr.dtype.itemsize * 8]),
        (259, SHORT, [_COMPRESSION[compression]]),
        (262, SHORT, [1]),
        (277, SHORT, [1]),
        (284, SHORT, [1]),
        (339, SHORT, [_SAMPLE_FORMAT[arr.dtype.kind]]),
        (33550, DOUBLE, [scale, scale, 0.0]),
        (33922, DOUBLE, [0.0, 0.0, 0.0, origin[0], origin[1], 0.0]),
    ]
    if predictor:
        tags.append((317, SHORT, [2]))
    if tiled:
        tags += [(322, SHORT, [block]), (323, SHORT, [block]),
                 (324, LONG, offsets), (325, LONG, counts)]
    else:
        tags += [(273, LONG, offsets), (278, LONG, [max(1, block // 4)]),
                 (279, LONG, counts)]
    tags.sort()
    fmt = {SHORT: "H", LONG: "I", DOUBLE: "d"}
    ifd_off = len(data)
    extra_off = ifd_off + 2 + 12 * len(tags) + 4
    entries, extra = bytearray(struct.pack("<H", len(tags))), bytearray()
    for tag, typ, vals in tags:
        payload = struct.pack("<%d%s" % (len(vals), fmt[typ]), *vals)
        if len(payload) <= 4:
            entries += struct.pack("<HHI", tag, typ, len(vals)) + payload.ljust(4, b"\x00")
        else:
            entries += struct.pack("<HHII", tag, typ, len(vals), extra_off + len(extra))
            extra += payload
            if len(extra) % 2:
                extra += b"\x00"
    entries += b"\x00\x00\x00\x00"
    data += entries + extra
    struct.pack_into("<I", data, 4, ifd_off)
    return bytes(data)


# -- COG farm -----------------------------------------------------------------
FARM_DTYPES = ["uint8", "uint16", "int16", "float32", "float64"]


def write_farm(out_dir: str, n: int, seed: int, sizes: tuple[int, ...],
               n_corrupt: int = 0, lzw_every: int = 4) -> dict:
    """``n`` seeded GeoTIFFs in ``out_dir`` plus ``n_corrupt`` planted
    corrupt ones. Layout, codec, predictor and dtype rotate over the farm;
    pixel data is a smooth ramp plus seeded noise. Codecs cycle deflate /
    packbits / none, with LZW on every ``lzw_every``-th file (its decoder
    is the slow pure-Python one).

    Returns the manifest: refs, status ('ok'/'error'), per-tile float64
    mean and centroid (x, y)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, "farm")
    refs, status, means, cx, cy = [], [], [], [], []
    bad_at = set(rng.choice(n + n_corrupt, size=n_corrupt, replace=False).tolist())
    for i in range(n + n_corrupt):
        path = os.path.join(out_dir, f"cog_{i:05d}.tif")
        dt = np.dtype(FARM_DTYPES[i % len(FARM_DTYPES)])
        side = int(sizes[int(rng.integers(len(sizes)))])
        yy, xx = np.mgrid[0:side, 0:side]
        base = (yy + 2 * xx) % 97 + rng.random((side, side)) * 30.0
        arr = (base + 40.0).astype(dt)
        scale = 30.0
        ox = float(rng.uniform(X0, X1 - side * scale))
        oy = float(rng.uniform(Y0 + side * scale, Y1))
        codec = "lzw" if i % lzw_every == lzw_every - 1 else ["deflate", "packbits", "none"][i % 3]
        blob = tiff_bytes(
            arr, (ox, oy), scale, tiled=bool(i % 2), compression=codec,
            predictor=(dt.kind != "f" and i % 5 in (1, 3)),
        )
        ok = i not in bad_at
        if not ok:  # planted corruption: three kinds, all decode errors
            kind = i % 3
            if kind == 0:
                blob = blob[: len(blob) // 3]  # chunk data cut off
            elif kind == 1:
                blob = b"II*\x00" + rng.bytes(64)  # garbage IFD
            else:
                blob = b"NOTATIFF" + blob[8:]  # bad byte-order mark
        with open(path, "wb") as f:
            f.write(blob)
        refs.append("file://" + os.path.abspath(path))
        status.append("ok" if ok else "error")
        means.append(float(arr.astype(np.float64).mean()) if ok else np.nan)
        cx.append(ox + scale * side / 2.0)
        cy.append(oy - scale * side / 2.0)
    return {"refs": refs, "status": np.array(status), "mean": np.array(means),
            "cx": np.array(cx), "cy": np.array(cy)}


# -- polygon layer ------------------------------------------------------------
def polygon_rows(n: int, seed: int) -> list[tuple]:
    """Seeded convex CCW polygons over the farm extent (every 8th far away),
    in the engine's polygon schema: (polygon_id, ring, bbox)."""
    rng = rng_for(seed, "polygons")
    rows = []
    for i in range(n):
        if i % 8 == 7:
            cx, cy = 2_000_000.0 + i * 90_000.0, 3_000_000.0
        else:
            cx, cy = rng.uniform(X0, X1), rng.uniform(Y0, Y1)
        k = int(rng.integers(3, 9))
        r = rng.uniform(15_000, 45_000)
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        ring = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a))) for a in ang]
        ring.append(ring[0])
        xs, ys = [p[0] for p in ring], [p[1] for p in ring]
        rows.append((
            f"poly{i:04d}",
            [{"x": x, "y": y} for x, y in ring],
            {"xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)},
        ))
    return rows


def containment(rows: list[tuple], px: np.ndarray, py: np.ndarray) -> np.ndarray:
    """(points × polygons) bool: point inside the convex CCW ring (own
    cross-product test, independent of the engine's even-odd PIP)."""
    out = np.zeros((len(px), len(rows)), bool)
    for j, (_, ring, _) in enumerate(rows):
        vx = np.array([p["x"] for p in ring])
        vy = np.array([p["y"] for p in ring])
        cross = (vx[1:] - vx[:-1])[None, :] * (py[:, None] - vy[:-1][None, :]) - (
            vy[1:] - vy[:-1]
        )[None, :] * (px[:, None] - vx[:-1][None, :])
        out[:, j] = (cross >= 0).all(axis=1)
    return out


# -- interleaved documents ----------------------------------------------------
def write_docs(path: str, doc_refs: list[np.ndarray], n_docs: int, seed: int,
               refs: list[str], files: int = 8) -> None:
    """Interleaved docs table in the engine's schema
    ``doc_id STRING, spans ARRAY<STRUCT<kind, text, media_ref, offset>>``.

    ``doc_refs`` = (n_spans per doc, span is-media mask, ref index per span)
    as produced by ``farm_spans``; text spans draw from a
    seeded vocabulary. Written as ``files`` parquet files so the scan
    splits across cores."""
    n_spans, is_media, ref_idx = doc_refs
    rng = rng_for(seed, "doc-text")
    total = int(n_spans.sum())
    offsets = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int64)
    vocab = pa.array([f"text-{v:x}" for v in rng.integers(1 << 20, 1 << 40, 4096)] + [""])
    t_idx = np.where(is_media, 4096, rng.integers(0, 4096, total))
    kinds = pa.array(["text", "media"]).take(pa.array(is_media.astype(np.int64)))
    ref_arr = pa.array(list(refs) + [None], pa.string())
    m_idx = np.where(is_media, ref_idx, len(refs))
    pos = (np.arange(total) - np.repeat(offsets[:-1], n_spans)).astype(np.int32)
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n_docs, files + 1).astype(np.int64)
    for f in range(files):
        d0, d1 = int(bounds[f]), int(bounds[f + 1])
        s0, s1 = int(offsets[d0]), int(offsets[d1])
        spans = pa.StructArray.from_arrays(
            [kinds.slice(s0, s1 - s0),
             vocab.take(pa.array(t_idx[s0:s1])),
             ref_arr.take(pa.array(m_idx[s0:s1])),
             pa.array(pos[s0:s1])],
            names=["kind", "text", "media_ref", "offset"],
        )
        lst = pa.ListArray.from_arrays(pa.array((offsets[d0 : d1 + 1] - s0).astype(np.int32)), spans)
        num = pc.utf8_lpad(pa.array(np.arange(d0, d1)).cast(pa.string()), 12, "0")
        ids = pc.binary_join_element_wise("doc", num, "")
        pq.write_table(pa.table({"doc_id": ids, "spans": lst}),
                       os.path.join(path, f"part-{f:03d}.parquet"))


def farm_spans(n_refs: int, seed: int, extra_share: float = 0.1):
    """One doc per ref (1-3 spans, one of them media); ``extra_share`` of
    the docs carry a second media span to a random ref."""
    rng = rng_for(seed, "farm-spans")
    n_docs = n_refs
    n_text = rng.integers(0, 3, n_docs)
    extra = rng.random(n_docs) < extra_share
    n_spans = n_text + 1 + extra
    is_media, ref_idx = [], []
    perm = rng.permutation(n_refs)
    for d in range(n_docs):  # n_docs is thousands: a plain loop is cheap
        kinds = [False] * int(n_text[d]) + [True] * (1 + int(extra[d]))
        rng.shuffle(kinds)
        picks = iter([perm[d], int(rng.integers(n_refs))])
        for k in kinds:
            is_media.append(k)
            ref_idx.append(next(picks) if k else 0)
    return n_spans, np.array(is_media), np.array(ref_idx)


def expected_flagship(doc_refs, manifest: dict, poly_rows: list[tuple]) -> dict:
    """Per polygon: exact n_spans, n_tiles, n_docs, sum_tile_mean for the
    flagship aggregate, from the generator's own arrays."""
    n_spans, is_media, ref_idx = doc_refs
    doc_of_span = np.repeat(np.arange(len(n_spans)), n_spans)
    m_doc, m_ref = doc_of_span[is_media], ref_idx[is_media]
    ok = manifest["status"] == "ok"
    inside = containment(poly_rows, manifest["cx"], manifest["cy"]) & ok[:, None]
    spans_per_ref = np.bincount(m_ref, minlength=len(ok))
    mean = np.where(ok, manifest["mean"], 0.0)
    out = {}
    for j, (pid, _, _) in enumerate(poly_rows):
        sel = inside[:, j] & (spans_per_ref > 0)
        if not sel.any():
            continue
        docs = m_doc[sel[m_ref]]  # spans are in doc order: count changes
        out[pid] = {
            "n_spans": int(spans_per_ref[sel].sum()),
            "n_tiles": int(sel.sum()),
            "n_docs": int(1 + np.count_nonzero(np.diff(docs))),
            "sum_tile_mean": float((mean[sel] * spans_per_ref[sel]).sum()),
        }
    return out


def expected_sink_rows(doc_refs, manifest: dict, poly_rows: list[tuple]) -> int:
    """Rows the tile sink must hold: one per (referenced ok tile, containing
    polygon), or one with no polygon."""
    _, is_media, ref_idx = doc_refs
    used = np.zeros(len(manifest["refs"]), bool)
    used[ref_idx[is_media]] = True
    ok = used & (manifest["status"] == "ok")
    hits = containment(poly_rows, manifest["cx"], manifest["cy"]).sum(axis=1)
    return int(np.maximum(hits[ok], 1).sum())


# -- text corpus --------------------------------------------------------------
# Shape measured on the sf0.1 `documents` table (5,000 docs, 270,704 words):
# every word is one of these 30, each 3.3% of all words (uniform); doc
# length is uniform on 10-99 words; 250 docs (5.0%) are a copy of another
# doc with the marker word "dup" appended; 8 texts (0.16%) repeat exactly.
SF01_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DUP_MARK = "dup"
NEAR_RATE = 0.05
EXACT_RATE = 0.0016


def make_corpus(n_docs: int, seed: int):
    """``n_docs`` docs with the sf0.1 shape above: uniform words from
    ``SF01_VOCAB``, 10-99 words each, ``NEAR_RATE`` near-dups (a copy plus
    " dup") and ``EXACT_RATE`` exact copies, sources of the two kinds
    disjoint. Ids are shuffled so copies sit anywhere in the corpus.

    Returns (ids, texts, near_pairs, exact_pairs) with pairs as (a, b), a<b."""
    rng = rng_for(seed, "corpus")
    n_near = round(n_docs * NEAR_RATE)
    n_exact = max(1, round(n_docs * EXACT_RATE))
    n_base = n_docs - n_near - n_exact
    vocab = np.array(SF01_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
             for _ in range(n_base)]
    src = rng.permutation(n_base)[: n_near + n_exact]
    for k, s in enumerate(src):
        texts.append(texts[s] + " " + DUP_MARK if k < n_near else texts[s])
    pos = rng.permutation(n_docs)  # doc i gets id pos[i]
    pairs = [tuple(sorted((int(pos[s]), int(pos[n_base + k])))) for k, s in enumerate(src)]
    out = [""] * n_docs
    for i, t in enumerate(texts):
        out[pos[i]] = t
    return np.arange(n_docs, dtype=np.int64), out, pairs[:n_near], pairs[n_near:]


def char_jaccard(a: str, b: str, n: int = 5) -> float:
    """Exact Jaccard of lower-cased, whitespace-normalised char n-gram sets."""
    def grams(t):
        s = " ".join(t.lower().split())
        return {s[i : i + n] for i in range(max(1, len(s) - n + 1))}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def word_jaccard(a: str, b: str, n: int = 3) -> float:
    """Exact Jaccard of distinct word n-gram sets."""
    def grams(t):
        w = t.lower().split()
        return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


# -- embeddings ---------------------------------------------------------------
def make_embeddings(n: int, dim: int, n_queries: int, seed: int, n_labels: int = 10):
    """Vectors with the sf0.1 `embeddings` shape (2,000 x 64, measured):
    unit-norm, directions iid (nearest-neighbour cosine about 0.41, no
    cluster structure) and ``n_labels`` uniform labels. Queries are corpus
    vectors, as in q17. Returns (vecs, labels, queries)."""
    rng = rng_for(seed, "embeddings")
    vecs = unit(rng.normal(size=(n, dim)))
    labels = rng.integers(0, n_labels, n)
    q = vecs[rng.choice(n, n_queries, replace=False)]
    return vecs.astype(np.float32), labels.astype(np.int32), q.astype(np.float32)


def unit(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float64)
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def exact_topk(vecs: np.ndarray, queries: np.ndarray, k: int):
    """(ids, cosines) of each query's exact cosine top-k, ties → lower id."""
    sims = unit(queries) @ unit(vecs).T
    order = np.lexsort((np.broadcast_to(np.arange(sims.shape[1]), sims.shape), -sims), axis=1)[:, :k]
    return order, np.take_along_axis(sims, order, axis=1)


def exact_top_pairs(vecs: np.ndarray, top_n: int, block: int = 2048):
    """Global top-``top_n`` most cosine-similar pairs (i<j), blocked matmul."""
    u = unit(vecs).astype(np.float32)
    best_s, best_a, best_b = np.empty(0, np.float32), np.empty(0, np.int64), np.empty(0, np.int64)
    for i0 in range(0, len(u), block):
        s = u[i0 : i0 + block] @ u.T
        rows = np.arange(i0, min(i0 + block, len(u)))
        s[rows[:, None] >= np.arange(len(u))[None, :]] = -2  # keep i < j
        flat = np.argpartition(-s.ravel(), top_n)[:top_n]
        a, b = np.unravel_index(flat, s.shape)
        best_s = np.concatenate([best_s, s[a, b]])
        best_a = np.concatenate([best_a, rows[a]])
        best_b = np.concatenate([best_b, b])
        keep = np.argsort(-best_s, kind="stable")[:top_n]
        best_s, best_a, best_b = best_s[keep], best_a[keep], best_b[keep]
    return best_a, best_b, best_s
