"""The workloads: inputs, one pass, its check, and layer probes.

A workload object owns its generated inputs and the expected answer. The
runner calls ``generate`` (set-up), then ``run`` once per pass and
``check`` on every pass's output. ``run`` takes a ``Tracer``: untraced it
calls the engine exactly as a user would; traced it wraps each layer call
in a span and materializes the layer's output at the span's end, so the
span covers the work and not just plan building.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen

HLL_REL_TOL = 0.2  # lgK=10 sketches: ~3.3% std error, so 6 sigma


class CheckFailed(Exception):
    """A pass returned output that disagrees with the expected answer."""


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


POLYGON_SCHEMA = T.StructType([
    T.StructField("polygon_id", T.StringType(), False),
    T.StructField("ring", T.ArrayType(T.StructType([
        T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())])), False),
    T.StructField("bbox", T.StructType([
        T.StructField(k, T.DoubleType()) for k in ("xmin", "ymin", "xmax", "ymax")]), False),
])


class Workload:
    unit = ""  # what one throughput unit is
    units_per_pass = 0

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.par = spark.sparkContext.defaultParallelism
        self.layer: dict[str, float] = {}  # traced-run per-layer values

    def generate(self, d: str) -> None:
        raise NotImplementedError

    def run(self, tr, pass_id: str):
        raise NotImplementedError

    def check(self, out) -> float:
        """Raise CheckFailed on a wrong answer; return the pass's recall."""
        raise NotImplementedError

    def after_traced_pass(self, out) -> None:
        """Per-layer counts from a traced pass's materialized outputs."""

    def cross_check(self) -> None:
        """Once per run: modular or exact-configuration paths that must
        agree with the expected answer."""


# -- flagship: span side and tile side ------------------------------------------
def _flagship_traced(tr, docs, polys, par):
    """flagship_enriched split at its layer boundary: the span-side
    per-ref aggregate, then the fused tile kernel (same expressions as
    plans.flagship.flagship_enriched)."""
    from cog3pio_spark.operators.tile_kernel import fused_decode_assign_pip
    from cog3pio_spark.plans.flagship import doc_media_refs

    with tr.span("plans.flagship.span_agg"):
        per_ref = doc_media_refs(docs).groupBy("media_ref").agg(
            F.count("*").alias("ref_spans"),
            F.hll_sketch_agg(F.xxhash64("doc_id"), F.lit(10)).alias("doc_sketch"),
        ).localCheckpoint(eager=True)
    with tr.span("operators.tile_kernel"):
        enriched = fused_decode_assign_pip(
            per_ref.repartition(par), polys
        ).localCheckpoint(eager=True)
    return per_ref, enriched


def check_aggregate(rows, expected: dict) -> float:
    """Exact n_spans/n_tiles/sum_tile_mean per polygon; HLL n_docs within
    tolerance. Returns recall = Σ min(est, exact) / Σ exact over n_docs."""
    got = {r["polygon_id"]: r for r in rows}
    require(set(got) == set(expected),
            f"polygons differ: {sorted(set(got) ^ set(expected))[:5]}")
    hit = tot = 0
    for pid, e in expected.items():
        r = got[pid]
        require(r["n_spans"] == e["n_spans"] and r["n_tiles"] == e["n_tiles"],
                f"{pid}: spans/tiles {r['n_spans']}/{r['n_tiles']} != {e['n_spans']}/{e['n_tiles']}")
        require(abs(r["sum_tile_mean"] - e["sum_tile_mean"]) <= 1e-9 * max(1.0, abs(e["sum_tile_mean"])),
                f"{pid}: sum_tile_mean {r['sum_tile_mean']} != {e['sum_tile_mean']}")
        require(abs(r["n_docs"] - e["n_docs"]) <= HLL_REL_TOL * e["n_docs"] + 2,
                f"{pid}: n_docs {r['n_docs']} vs exact {e['n_docs']}")
        hit += min(r["n_docs"], e["n_docs"])
        tot += e["n_docs"]
    return hit / tot


# -- tile-side layer probes ---------------------------------------------------------
def tile_probes(w: "TileIngest", tr) -> None:
    """Modular decode → assign → PIP over the distinct referenced tiles,
    plus the numpy kernels they run: TIFF decode, S2 and hex cell ids."""
    from cog3pio_spark.cells import h3x, s2
    from cog3pio_spark.operators.assign import assign_cells
    from cog3pio_spark.operators.decode import decode_tiles
    from cog3pio_spark.operators.pip_join import pip_join
    from cog3pio_spark.plans.flagship import doc_media_refs
    from cog3pio_spark.tiff.reader import CogReader, TiffDecodeError

    docs = w.spark.read.parquet(w.docs_path)
    refs = doc_media_refs(docs).select("media_ref").distinct().repartition(w.par)
    refs = refs.localCheckpoint(eager=True)
    for tr.pass_id in ("probe-warm", "probe"):  # first calls absorb UDF set-up
        with tr.span("operators.decode"):
            dec = decode_tiles(refs).localCheckpoint(eager=True)
        with tr.span("operators.assign"):
            asg = assign_cells(dec.filter(F.col("status") == "ok")).localCheckpoint(eager=True)
        with tr.span("operators.pip_join"):
            pip = pip_join(asg, w.polygons()).localCheckpoint(eager=True)
    st = {r["status"]: r["n"] for r in dec.groupBy("status").agg(F.count("*").alias("n")).collect()}
    w.layer.update({
        "decode.tiles_ok": st.get("ok", 0), "decode.tiles_error": st.get("error", 0),
        "pip.points": asg.count(), "pip.matches": pip.count(),
    })

    # kernel rates over the farm, single-threaded on the driver
    px = fb = 0
    t0 = time.perf_counter()
    for ref in w.farm["refs"]:
        with open(ref[len("file://"):], "rb") as f:
            blob = f.read()
        fb += len(blob)
        try:
            px += CogReader(blob).to_numpy().nbytes
        except TiffDecodeError:
            pass
    dt = time.perf_counter() - t0
    w.layer["tiff.decode_MBps"] = px / dt / 1e6
    w.layer["tiff.file_bytes_read"] = fb
    ok = w.farm["status"] == "ok"
    lat = np.degrees(w.farm["cy"][ok] / gen.EARTH_RADIUS_M)
    lng = np.degrees(w.farm["cx"][ok] / gen.EARTH_RADIUS_M)
    lat, lng = np.tile(lat, 50), np.tile(lng, 50)
    t0 = time.perf_counter()
    s2.latlng_to_cell(lat, lng, 12)
    w.layer["cells.s2_ids_per_s"] = len(lat) / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    h3x.latlng_to_cells_multi(lat, lng, list(range(5, 13)))
    w.layer["cells.hex_ids_per_s"] = 8 * len(lat) / (time.perf_counter() - t0)


class TileIngest(Workload):
    """The run_flagship job shape over a farm of distinct COGs each
    referenced about once: decode, cell assignment, PIP and the
    checkpoint write do the work; the span side is small."""

    # The repo's own bench farm (fixtures.cogs.generate_tile_farm) is 400
    # deflate/raw tiles of 32-64 px; this farm is twice as many files at
    # twice the side (64-128 px), with every codec the reader supports.
    unit = "tile"
    N_TILES = 800
    N_CORRUPT = 8
    N_POLYGONS = 64

    def generate(self, d):
        self.dir = d
        self.farm = gen.write_farm(os.path.join(d, "farm"), self.N_TILES, self.seed,
                                   sizes=(64, 96, 128), n_corrupt=self.N_CORRUPT, lzw_every=16)
        self.polys = gen.polygon_rows(self.N_POLYGONS, self.seed)
        spans = gen.farm_spans(len(self.farm["refs"]), self.seed)
        self.docs_path = os.path.join(d, "docs")
        gen.write_docs(self.docs_path, spans, len(spans[0]), self.seed, self.farm["refs"], files=4)
        self.expected = gen.expected_flagship(spans, self.farm, self.polys)
        self.sink_rows = gen.expected_sink_rows(spans, self.farm, self.polys)
        self.status = {s: int((self.farm["status"] == s).sum()) for s in ("ok", "error")}
        self.units_per_pass = len(self.farm["refs"])

    def polygons(self):
        return self.spark.createDataFrame(self.polys, POLYGON_SCHEMA)

    def run(self, tr, pass_id):
        from cog3pio_spark.functions import cells as C
        from cog3pio_spark.operators.assign import range_partition_by_cell
        from cog3pio_spark.operators.checkpoint import write_checkpointed
        from cog3pio_spark.plans.flagship import flagship_aggregate, flagship_enriched

        docs = self.spark.read.parquet(self.docs_path)
        polys = self.polygons()
        ckpt = os.path.join(self.dir, "ckpt", pass_id)  # fresh: the sink resumes
        if tr.on:
            per_ref, enriched = _flagship_traced(tr, docs, polys, self.par)
        else:
            per_ref, enriched = None, flagship_enriched(docs, polys).localCheckpoint(eager=True)
        with tr.span("plans.flagship.aggregate"):
            agg = flagship_aggregate(enriched).collect()
        with tr.span("operators.assign.range_partition"):
            tiles = enriched.filter(F.col("status") == "ok")
            n_no_cell = tiles.filter(F.col("s2_cell").isNull()).count()
            tiles = range_partition_by_cell(
                tiles.filter(F.col("s2_cell").isNotNull()), self.par, cell_col="s2_cell")
            lvl = part_key_level(tiles, self.par)
            tiles = tiles.withColumn("part_key", C.s2_parent(F.col("s2_cell"), lvl))
        with tr.span("operators.checkpoint"):
            res = write_checkpointed(tiles.drop("hex_cells", "doc_sketch"), ckpt,
                                     part_col="part_key")
        return agg, n_no_cell, res, per_ref, enriched, ckpt

    def check(self, out):
        from cog3pio_spark.operators.checkpoint import read_checkpointed

        agg, n_no_cell, res, _, enriched, ckpt = out
        try:
            recall = check_aggregate(agg, self.expected)
            require(n_no_cell == 0, f"{n_no_cell} ok tiles without a cell")
            by_status = enriched.groupBy("status").agg(
                F.countDistinct("media_ref").alias("n"),
                F.count("s2_cell").alias("with_cell")).collect()
            st = {r["status"]: r["n"] for r in by_status}
            require(st == self.status, f"decode status {st} != manifest {self.status}")
            ok_rows = sum(r["with_cell"] for r in by_status if r["status"] == "ok")
            back = read_checkpointed(self.spark, ckpt).count()
            require(res["rows"] == back == ok_rows == self.sink_rows,
                    f"sink rows: reported {res['rows']}, read back {back}, "
                    f"enriched {ok_rows}, expected {self.sink_rows}")
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        return recall

    def after_traced_pass(self, out):
        _, _, _, per_ref, enriched, ckpt = out
        files = [os.path.join(r, f) for r, _, fs in os.walk(os.path.join(ckpt, "data"))
                 for f in fs if f.endswith(".parquet")]
        s = per_ref.agg(F.count("*").alias("refs"), F.sum("ref_spans").alias("spans")).first()
        self.layer.update({
            "checkpoint.files_written": len(files),
            "checkpoint.bytes_written": sum(os.path.getsize(f) for f in files),
            "flagship.refs": s["refs"], "flagship.spans": s["spans"],
            "tile_kernel.rows_in": s["refs"], "tile_kernel.rows_out": enriched.count(),
        })

    def cross_check(self):
        """The modular path (tiles_for_docs → pip_join on the distinct
        tiles) must give the same exact per-polygon spans and tiles."""
        from cog3pio_spark.operators.pip_join import pip_join
        from cog3pio_spark.plans.flagship import tiles_for_docs

        spans = tiles_for_docs(self.spark.read.parquet(self.docs_path))
        tiles = spans.filter(F.col("status") == "ok").select(
            "media_ref", "centroid_x", "centroid_y").distinct()
        in_poly = pip_join(tiles, self.polygons()).select("media_ref", "polygon_id")
        rows = (spans.join(in_poly, "media_ref")
                .groupBy("polygon_id")
                .agg(F.count("*").alias("n_spans"),
                     F.countDistinct("media_ref").alias("n_tiles"))
                .collect())
        got = {r["polygon_id"]: (r["n_spans"], r["n_tiles"]) for r in rows}
        want = {p: (e["n_spans"], e["n_tiles"]) for p, e in self.expected.items()}
        require(got == want, "tiles_for_docs path disagrees with the expected per-polygon counts")

def part_key_level(tiles, par: int) -> int:
    """Finest S2 parent level whose prefix stride spans the observed cell
    range in about ``par`` parents (the run_flagship sizing rule)."""
    rng = tiles.agg(F.min("s2_cell").alias("lo"), F.max("s2_cell").alias("hi")).first()
    if rng["lo"] is None:
        return 0
    span = max(1, int(rng["hi"]) - int(rng["lo"]))
    for lvl in range(31):
        if span // 2 ** (2 * (30 - lvl) + 1) + 1 >= par:
            return lvl
    return 30


# -- text dedupe -----------------------------------------------------------------
class TextDedupe(Workload):
    """ngram Jaccard + MinHash LSH + SimHash over a corpus with the sf0.1
    `documents` shape (gen.make_corpus): a 30-word vocabulary shared by
    every doc, planted near-dups and exact copies. Thresholds are those of
    the engine's own queries: q16 (ngram J >= 0.10), q23 (MinHash J >= 0.5),
    q24 (SimHash Hamming <= 6, blocked vs exact scan)."""

    unit = "doc"
    N_DOCS = 1000
    NGRAM_T = 0.10
    MINHASH_T = 0.5
    HAMMING = 6

    def generate(self, d):
        self.dir = d
        ids, texts, near, exact = gen.make_corpus(self.N_DOCS, self.seed)
        self.texts = texts
        self.path = os.path.join(d, "docs")
        os.makedirs(self.path)
        for f, sl in enumerate(np.array_split(np.arange(len(ids)), 4)):
            pq.write_table(pa.table({"doc_id": ids[sl], "text": [texts[i] for i in sl]}),
                           os.path.join(self.path, f"part-{f}.parquet"))
        self.exact = set(exact)
        # every planted pair clears every threshold (a copy plus one word)
        self.ngram_must = {p: gen.word_jaccard(texts[p[0]], texts[p[1]]) for p in near + exact}
        self.minhash_truth = {p for p in near if gen.char_jaccard(texts[p[0]], texts[p[1]])
                              >= self.MINHASH_T} | self.exact
        self.units_per_pass = len(ids)
        self._simhash_exact = None

    def run(self, tr, pass_id):
        from cog3pio_spark.operators.dedupe import (
            minhash_lsh_dupes, ngram_jaccard_pairs, simhash_dupes, simhash_signatures,
        )

        docs = self.spark.read.parquet(self.path)
        with tr.span("operators.dedupe.ngram"):
            ng = ngram_jaccard_pairs(docs, n=3, threshold=self.NGRAM_T).collect()
        with tr.span("operators.dedupe.minhash"):
            mh = minhash_lsh_dupes(docs, jaccard_threshold=self.MINHASH_T).select(
                "id_a", "id_b").collect()
        with tr.span("operators.dedupe.simhash"):
            sh = simhash_signatures(docs).localCheckpoint(eager=False)  # as q24
            blocked = simhash_dupes(docs, max_hamming=self.HAMMING, sh_frame=sh).collect()
        return ng, mh, blocked

    def check(self, out):
        ng, mh, blocked = out
        ng_map = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ng}
        for p, j in self.ngram_must.items():
            require(p in ng_map, f"ngram missed planted pair {p} (J={j})")
        for (a, b), j in ng_map.items():  # every pair returned: its exact Jaccard
            want = gen.word_jaccard(self.texts[a], self.texts[b])
            require(abs(j - want) <= 1e-6 and want >= self.NGRAM_T,
                    f"ngram J({a}, {b}) {j} != exact {want}")
        bl = {(r["id_a"], r["id_b"], r["hamming"]) for r in blocked}
        ex = self.simhash_exact_pairs()
        require(bl == ex, f"simhash blocked != exact scan ({len(bl ^ ex)} pairs differ)")
        require(all((a, b, 0) in ex for a, b in self.exact), "simhash missed an exact copy")
        found = {(r["id_a"], r["id_b"]) for r in mh}
        require(self.exact <= found, "minhash missed an exact copy")
        return len(found & self.minhash_truth) / len(self.minhash_truth)

    def simhash_exact_pairs(self) -> set:
        """The q24 oracle for the blocked pairs: the O(n²) Hamming scan over
        fresh signatures. Its answer does not depend on the pass, so it runs
        once per run, in the warm-up pass's check, outside any timing."""
        from cog3pio_spark.operators.dedupe import simhash_hamming_pairs_exact

        if self._simhash_exact is None:
            rows = simhash_hamming_pairs_exact(
                self.spark.read.parquet(self.path), max_hamming=self.HAMMING).select(
                "id_a", "id_b", "hamming").collect()
            self._simhash_exact = {(r["id_a"], r["id_b"], r["hamming"]) for r in rows}
        return self._simhash_exact

    def after_traced_pass(self, out):
        ng, mh, blocked = out
        self.layer.update({"dedupe.pairs_out.ngram": len(ng), "dedupe.pairs_out.minhash": len(mh),
                           "dedupe.pairs_out.simhash": len(blocked)})


# -- probes: every layer, in every traced run -----------------------------------------
def probe_all_layers(w: Workload, tr) -> None:
    """Traced runs only, after the passes. Every per-layer metric is
    measured in every traced run: the layers the workload's own pass does
    not call run here on small inputs — a pass of the other workload, the
    modular tile operators and kernels, and every ANN query path. Each
    probe runs twice; the first round ("probe-warm") absorbs one-time
    set-up (Python-worker imports, pandas_udf set-up, codegen) and is left
    out of the metrics."""
    mini = os.path.join(w.dir, "mini")
    tiles = w if isinstance(w, TileIngest) else _small(TileIngest, w, mini, N_TILES=100, N_CORRUPT=1)
    text = w if isinstance(w, TextDedupe) else _small(TextDedupe, w, mini, N_DOCS=300)
    ann = AnnProbe(w.spark, w.seed, os.path.join(w.dir, "ann"))
    for tr.pass_id in ("probe-warm", "probe"):
        for other in (tiles, text):
            if other is not w:
                out = other.run(tr, tr.pass_id)
                other.after_traced_pass(out)
                other.check(out)
        rec = ann.run(tr)
    tile_probes(tiles, tr)
    for name in ("ivfpq", "pq", "lsh"):
        w.layer[f"ann.recall_at_10.{name}"] = rec[name]
    for other in (tiles, text):
        for k, v in other.layer.items():
            w.layer.setdefault(k, v)


def _small(cls, w: Workload, d: str, **sizes) -> Workload:
    small = cls(w.spark, w.seed)
    for k, v in sizes.items():
        setattr(small, k, v)
    small.generate(d)
    return small


# -- ANN query paths ---------------------------------------------------------------
class AnnProbe:
    """A query batch through every ANN top-k path plus blocked top pairs,
    over seeded embeddings of the sf0.1 shape. Not a workload of its own (see
    README.md): traced runs time each path's public function and check it
    against the exact answer computed here."""

    N_VECS = 2000
    DIM = 64
    N_QUERIES = 16
    K = 10
    TOP_PAIRS = 20
    PATHS = ("brute", "ivf", "ivf2", "pq", "ivfpq", "lsh")

    def __init__(self, spark, seed: int, d: str):
        self.spark = spark
        vecs, labels, q = gen.make_embeddings(self.N_VECS, self.DIM, self.N_QUERIES, seed)
        self.vecs, self.q = vecs, q
        self.emb_path, self.q_path = os.path.join(d, "emb"), os.path.join(d, "queries")
        emb_type = pa.list_(pa.float32())
        for path, tbl in (
            (self.emb_path, pa.table({
                "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
                "embedding": pa.array(list(vecs), emb_type),
                "label": pa.array(labels)})),
            (self.q_path, pa.table({
                "query_id": pa.array(np.arange(len(q), dtype=np.int64)),
                "embedding": pa.array(list(q), emb_type)})),
        ):
            os.makedirs(path)
            pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
        self.top_ids, _ = gen.exact_topk(vecs, q, self.K)
        a, b, _ = gen.exact_top_pairs(vecs, self.TOP_PAIRS)
        self.top_pairs = set(zip(a.tolist(), b.tolist()))

    def run(self, tr) -> dict[str, float]:
        """One batch through every path; returns recall@k per approximate
        path (and top-pair recall). Exact paths must match exactly."""
        from cog3pio_spark.operators import ann

        emb = self.spark.read.parquet(self.emb_path)
        qdf = self.spark.read.parquet(self.q_path)
        qlist = [(r["query_id"], list(r["embedding"])) for r in qdf.collect()]
        d, k = self.DIM, self.K
        paths = {
            "brute": lambda: ann.brute_force_topk(emb, qlist, k),
            "ivf": lambda: ann.ivf_topk(emb, qdf, d, k, n_centroids=16, nprobe=16),
            "ivf2": lambda: ann.ivf2_topk(emb, qdf, d, k, n_coarse=4, n_fine=4,
                                          nprobe_coarse=4, nprobe_fine=4),
            "pq": lambda: ann.pq_topk(emb, qdf, d, k, m=8),
            "ivfpq": lambda: ann.ivfpq_topk(emb, qdf, d, k, m=8, n_centroids=16, nprobe=4),
            "lsh": lambda: ann.lsh_topk(emb, qdf, d, k, n_planes=6, n_probes=8),
        }
        rec = {}
        for name, fn in paths.items():
            with tr.span(f"operators.ann.{name}"):
                rows = fn().collect()
            ids = self._ids(rows, name not in ("pq", "ivfpq"))
            if name in ("brute", "ivf", "ivf2"):  # exact: every list probed
                require((ids == self.top_ids).all(), f"{name} top-k != exact top-k")
            rec[name] = float(np.mean([len(set(ids[i]) & set(self.top_ids[i])) / k
                                       for i in range(len(self.q))]))
        with tr.span("operators.ann.pairs_blocked"):
            rows = ann.top_cosine_pairs_blocked(emb, dim=d, top_n=self.TOP_PAIRS).collect()
        uv = gen.unit(self.vecs)
        pairs = set()
        for r in rows:
            require(abs(float(uv[r["id_a"]] @ uv[r["id_b"]]) - r["cosine"]) <= 2e-6,
                    f"pair ({r['id_a']}, {r['id_b']}) cosine is not the true one")
            pairs.add((min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])))
        rec["pairs_blocked"] = len(pairs & self.top_pairs) / self.TOP_PAIRS
        return rec

    def _ids(self, rows, score_exact: bool):
        """Per-query id matrix, validated: ranks 1..≤k, distinct ids, and
        reported cosines equal the true ones where the path scores exactly."""
        got: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append(r)
        ids = np.full((len(self.q), self.K), -1)
        uq, uv = gen.unit(self.q), gen.unit(self.vecs)
        for qid, rs in got.items():
            require(0 <= qid < len(self.q) and len(rs) <= self.K, f"bad rows for query {qid}")
            require([r["rank"] for r in rs] == list(range(1, len(rs) + 1)), f"ranks of query {qid}")
            v = [r["vec_id"] for r in rs]
            require(len(set(v)) == len(v), f"duplicate ids for query {qid}")
            if score_exact:
                require(np.allclose([r["cosine"] for r in rs], uv[v] @ uq[qid], atol=2e-6),
                        f"cosines of query {qid} are not the true ones")
            ids[qid, : len(v)] = v
        return ids


WORKLOADS = {
    "tile_ingest": TileIngest,
    "text_dedupe": TextDedupe,
}
