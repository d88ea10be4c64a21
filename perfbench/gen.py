#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Runs as its own process so the measured JVM sees only the files written
here. The same (workload, seed) always writes the same bytes.

    python3 perfbench/gen.py --workload geo_batch --seed 1 --out DIR

Each workload gets its measured tables under DIR, the same tables at
WARM_SCALE under DIR/warm (the warm-up pass runs the same plans on them)
and `DIR/manifest.json` (sizes, planted truth and check windows).

Every size and share below carries the reason it was chosen.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Files per table. Spark opens one scan partition per file at these sizes,
# so 2 x cores files keep every core busy from the first stage on without
# any repartition in the measured plan.
FILES = 8

# Scale of the warm-up input. Its cold pass compiles the measured plans
# for less than a cold pass over the full input (~20 s against ~29 s).
WARM_SCALE = 0.25

# ------------------------------------------------------------------ geo
GEO = dict(
    # Coordinates live in [0, EXTENT) on a 0.001 lattice: 10^6 distinct
    # values per axis, so features never pile onto shared lattice points
    # the way a key*mult % 1000 scatter does.
    extent=1000.0,
    # Snap input. Every layer is sized for the benchmark's run budget: two
    # full passes must fit a 12 s window on a 4-core box. At this size
    # per-job fixed cost is most of a pass (see README).
    points=60_000,
    # Hot spot: 30% of points fall in 1% of the extent (a 100 x 100
    # square). This is the input property grid-bucketing skew depends on.
    hot_share=0.30,
    hot_area=0.01,
    # Snap targets, uniform. Mean spacing ~20 against a search frame of
    # 14 leaves most but not all points snapped.
    targets=2_500,
    snap_frame=14.0,
    # Boxes for intersects / intersection_part: half-sizes 0.5..3 over
    # the extent give a few overlaps per box (rect pairs grow linearly).
    boxes=15_000,
    box_cell=8.0,
    # Irregular grid of adjacent rectangles for find_borders / dissolve:
    # every cell has four neighbours; regions group 8 x 8 cells.
    grid_nx=40,
    grid_ny=40,
    region_span=8,
    border_cell=25.0,
    border_tol=0.01,
    gridify_height=10.0,
    # Lines for match_lines: random walks on a 0.1 lattice (the matcher
    # works in integer tenths); probes are jittered copies of targets so
    # every probe has a true match.
    lines=3_000,
    probes=800,
    line_vertices=(6, 12),
    # Concave star polygons (alternating radii) for the general clip,
    # packed into a 250 x 250 district so ~10k pairs overlap: enough
    # kernel work per pass to outweigh the job's fixed cost.
    stars=4_000,
    star_district=250.0,
    star_cell=10.0,
    # Hausdorff kernel step: every 4th probe against all target lines in
    # its centroid cell.
    hausdorff_probe_every=4,
)

# ---------------------------------------------------------------- curate
CURATE = dict(
    # Unique base documents of ~110 words (~700 characters), sized like
    # the geo layers: a pass is mostly per-job fixed cost at this size.
    docs=900,
    words=(110, 30),
    vocab=6_000,
    # Zipf exponent of word frequencies: a natural-text head without a
    # head so heavy that every 16-char shingle is common.
    zipf=1.05,
    # Planted shares of the final corpus. The duplicate rate sets how much
    # work inputs share, which sets the candidate volume.
    exact_dup_share=0.05,
    near_dup_share=0.10,
    # Word edit rate of a near duplicate: ~3% of words changed keeps the
    # 16-char shingle Jaccard near 0.75, inside the minhash recall zone.
    near_dup_edit=0.03,
    contaminated_share=0.02,
    # Benchmark (evaluation) set that decontamination screens against; a
    # contaminated document carries a 60-word passage from one of them.
    bench_docs=200,
    contam_words=60,
    shingle_k=16,
    max_df=20,
    min_jaccard=0.2,
    flag_at=0.25,
    # Size of the separate documents.parquet the minhash oracle replays in
    # DuckDB (the oracle expands every shingle 64 ways; keep it small).
    check_docs=120,
    # Floors the planted-truth checks enforce.
    near_dup_recall_floor=0.85,
    contam_recall_floor=0.9,
)

# ------------------------------------------------------------------- ann
ANN = dict(
    # Clustered corpus: a Gaussian mixture whose cluster count equals the
    # IVF list count, the regime IVF is built for. 12k vectors keep one
    # build near 3 s, inside the run budget.
    vectors=12_000,
    dim=64,
    clusters=32,
    nlist=32,
    iters=3,
    # Cluster spread relative to centroid norm 1: clusters overlap enough
    # that nprobe=2 matters, not so much that recall collapses.
    spread=0.45,
    # Closed-loop client: each request carries a small query batch.
    queries=4_000,
    batch=8,
    k=10,
    nprobe=2,
    # Query ids live far above corpus ids (the probe path drops qid == nid).
    query_id_base=1_000_000_000,
)

def write(table, path):
    """Write `table` as FILES parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // FILES)
    for i in range(FILES):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:02d}.parquet"))


def dec3(v):
    """Integer thousandths -> exact decimal text (non-negative)."""
    return f"{v // 1000}.{v % 1000:03d}"


def dec1(v):
    """Integer tenths -> exact decimal text (non-negative)."""
    return f"{v // 10}.{v % 10}"


def ring_wkt(xs, ys, fmt):
    pts = ", ".join(f"{fmt(x)} {fmt(y)}" for x, y in zip(xs, ys))
    return f"POLYGON (({pts}, {fmt(xs[0])} {fmt(ys[0])}))"


# ------------------------------------------------------------------ geo

def gen_geo(rng, out, scale):
    p = GEO
    ext = int(p["extent"] * 1000)  # thousandths
    n_pts = int(p["points"] * scale)
    n_hot = int(n_pts * p["hot_share"])
    hot_side = int(ext * np.sqrt(p["hot_area"]))
    hx, hy = rng.integers(0, ext - hot_side, size=2)
    px = np.concatenate([rng.integers(0, ext, n_pts - n_hot),
                         hx + rng.integers(0, hot_side, n_hot)])
    py = np.concatenate([rng.integers(0, ext, n_pts - n_hot),
                         hy + rng.integers(0, hot_side, n_hot)])
    order = rng.permutation(n_pts)
    px, py = px[order], py[order]
    write(pa.table({
        "id": np.arange(n_pts, dtype=np.int64),
        "wkt": [f"POINT ({dec3(x)} {dec3(y)})" for x, y in zip(px, py)],
        "x": px / 1000.0, "y": py / 1000.0,
        "w": rng.integers(1, 101, n_pts).astype(np.int64),
    }), f"{out}/points")

    n_t = int(p["targets"] * scale)
    tx, ty = rng.integers(0, ext, n_t), rng.integers(0, ext, n_t)
    write(pa.table({
        "tid": np.arange(n_t, dtype=np.int64),
        "wkt": [f"POINT ({dec3(x)} {dec3(y)})" for x, y in zip(tx, ty)],
        "x": tx / 1000.0, "y": ty / 1000.0,
    }), f"{out}/targets")

    n_b = int(p["boxes"] * scale)
    hw = rng.integers(500, 3001, n_b)
    hh = rng.integers(500, 3001, n_b)
    cx = rng.integers(3000, ext - 3000, n_b)
    cy = rng.integers(3000, ext - 3000, n_b)
    x0, x1, y0, y1 = cx - hw, cx + hw, cy - hh, cy + hh
    write(pa.table({
        "rid": np.arange(n_b, dtype=np.int64),
        "wkt": [ring_wkt((a, c, c, a), (b, b, d, d), dec3)
                for a, b, c, d in zip(x0, y0, x1, y1)],
        "x0": x0 / 1000.0, "y0": y0 / 1000.0,
        "x1": x1 / 1000.0, "y1": y1 / 1000.0,
    }), f"{out}/boxes")

    # irregular grid: jittered cut positions, shared exactly by neighbours
    nx = max(4, int(p["grid_nx"] * np.sqrt(scale)))
    ny = max(4, int(p["grid_ny"] * np.sqrt(scale)))

    def cuts(n):
        base = np.linspace(0, ext, n + 1).astype(np.int64)
        jit = rng.integers(-(ext // n) // 4, (ext // n) // 4 + 1, n + 1)
        jit[0] = jit[-1] = 0
        return base + jit

    xc, yc = cuts(nx), cuts(ny)
    gi, gj = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
    gi, gj = gi.ravel(), gj.ravel()
    rs = p["region_span"]
    gx0, gx1, gy0, gy1 = xc[gi], xc[gi + 1], yc[gj], yc[gj + 1]
    pid = np.arange(len(gi), dtype=np.int64)
    write(pa.table({
        "pid": pid,
        "name": [f"p{i}" for i in pid],
        "rkey": ((gi // rs) * 1000 + gj // rs).astype(np.int64),
        "wkt": [ring_wkt((a, c, c, a), (b, b, d, d), dec3)
                for a, b, c, d in zip(gx0, gy0, gx1, gy1)],
        "x0": gx0 / 1000.0, "y0": gy0 / 1000.0,
        "x1": gx1 / 1000.0, "y1": gy1 / 1000.0,
    }), f"{out}/grid")

    # lines on the tenths lattice
    n_l, n_p = int(p["lines"] * scale), int(p["probes"] * scale)
    ext10 = ext // 100
    lo, hi = p["line_vertices"]
    lines = []
    for _ in range(n_l):
        nv = int(rng.integers(lo, hi + 1))
        sx, sy = rng.integers(100, ext10 - 100, 2)
        steps = rng.integers(-20, 21, size=(nv - 1, 2))
        xs = np.clip(np.concatenate([[sx], sx + np.cumsum(steps[:, 0])]),
                     0, ext10 - 1)
        ys = np.clip(np.concatenate([[sy], sy + np.cumsum(steps[:, 1])]),
                     0, ext10 - 1)
        lines.append((xs, ys))
    src = rng.integers(0, n_l, n_p)
    for s in src:
        xs, ys = lines[s]
        j = rng.integers(-3, 4, size=(2, len(xs)))
        lines.append((np.clip(xs + j[0], 0, ext10 - 1),
                      np.clip(ys + j[1], 0, ext10 - 1)))
    write(pa.table({
        "lid": np.arange(len(lines), dtype=np.int64),
        "wkt": ["LINESTRING (" + ", ".join(
            f"{dec1(x)} {dec1(y)}" for x, y in zip(xs, ys)) + ")"
            for xs, ys in lines],
    }), f"{out}/lines")

    # concave stars: 10 vertices, alternating outer / inner radius
    n_s = int(p["stars"] * scale)
    side = int(p["star_district"] * 1000)
    ox, oy = rng.integers(6000, ext - side - 6000, size=2)
    scx = ox + rng.integers(0, side, n_s)
    scy = oy + rng.integers(0, side, n_s)
    r = rng.integers(1000, 4001, n_s)
    rot = rng.uniform(0, 2 * np.pi, n_s)
    ang = np.arange(10) * (2 * np.pi / 10)
    rad = np.where(np.arange(10) % 2 == 0, 1.0, 0.45)
    wkts = []
    for i in range(n_s):
        xs = np.rint(scx[i] + r[i] * rad * np.cos(ang + rot[i])).astype(int)
        ys = np.rint(scy[i] + r[i] * rad * np.sin(ang + rot[i])).astype(int)
        wkts.append(ring_wkt(xs, ys, dec3))
    write(pa.table({"sid": np.arange(n_s, dtype=np.int64), "wkt": wkts}),
          f"{out}/stars")

    # correctness windows: centred on the hot spot's corner so half of the
    # point window is hot and half is not
    ccx, ccy = (hx + int(rng.integers(-5000, 5001))) / 1000.0, \
        (hy + int(rng.integers(-5000, 5001))) / 1000.0

    def window(side):
        x0 = float(min(max(ccx - side / 2, 0.0), p["extent"] - side))
        y0 = float(min(max(ccy - side / 2, 0.0), p["extent"] - side))
        return [x0, y0, x0 + side, y0 + side]

    return {
        "records": n_pts + n_t + n_b + len(gi) + len(lines) + n_s,
        "points": n_pts, "targets": n_t, "boxes": n_b, "grid": int(len(gi)),
        "lines": n_l, "probes": n_p, "stars": n_s,
        "hot_square": [hx / 1000.0, hy / 1000.0,
                       (hx + hot_side) / 1000.0, (hy + hot_side) / 1000.0],
        "window_points": window(40.0),
        "window_boxes": window(200.0),
        "window_grid": window(300.0),
    }


# ---------------------------------------------------------------- curate

def make_vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(2, 10))
        words.add("".join(rng.choice(letters, ln)))
    return np.array(sorted(words))


def gen_curate(rng, out, scale):
    p = CURATE
    vocab = make_vocab(rng, p["vocab"])
    ranks = np.arange(1, len(vocab) + 1)
    prob = ranks ** -p["zipf"]
    prob /= prob.sum()
    mu, sd = p["words"]

    def doc_words():
        n = int(np.clip(rng.normal(mu, sd), 30, 250))
        return list(vocab[rng.choice(len(vocab), n, p=prob)])

    bench = [doc_words() for _ in range(p["bench_docs"])]
    n_base = int(p["docs"] * scale)
    n_exact = int(n_base * p["exact_dup_share"])
    n_near = int(n_base * p["near_dup_share"])
    n_contam = int(n_base * p["contaminated_share"])
    texts = [doc_words() for _ in range(n_base)]
    planted = []  # (index, source index or bench id, kind)
    for _ in range(n_exact):
        s = int(rng.integers(0, n_base))
        planted.append((len(texts), s, "exact"))
        texts.append(list(texts[s]))
    for _ in range(n_near):
        s = int(rng.integers(0, n_base))
        w = list(texts[s])
        for _ in range(max(1, int(len(w) * p["near_dup_edit"]))):
            w[int(rng.integers(0, len(w)))] = vocab[rng.choice(len(vocab),
                                                              p=prob)]
        planted.append((len(texts), s, "near"))
        texts.append(w)
    for _ in range(n_contam):
        b = int(rng.integers(0, len(bench)))
        w = doc_words()
        passage = bench[b][:p["contam_words"]]
        at = int(rng.integers(0, len(w)))
        planted.append((len(texts), b, "contaminated"))
        texts.append(w[:at] + passage + w[at:])
    ids = rng.permutation(len(texts)).astype(np.int64)
    strs = [" ".join(w) for w in texts]

    def docs_table(idx):
        return pa.table({
            "doc_id": ids[idx],
            "text": [strs[i] for i in idx],
            "lang": ["en"] * len(idx),
            "source": [f"src{i % 7}" for i in idx],
            "n_chars": np.array([len(strs[i]) for i in idx], dtype=np.int64),
        })

    order = np.argsort(ids)
    write(docs_table(order), f"{out}/documents")
    write(pa.table({
        "doc_id": np.arange(len(bench), dtype=np.int64),
        "text": [" ".join(w) for w in bench],
    }), f"{out}/bench")
    kinds = [k for _, _, k in planted]
    write(pa.table({
        "doc_id": np.array([ids[i] for i, _, _ in planted], dtype=np.int64),
        "src_id": np.array([ids[s] if k != "contaminated" else s
                            for _, s, k in planted], dtype=np.int64),
        "kind": kinds,
    }), f"{out}/planted")

    # oracle subset: base docs plus every planted near/exact copy of them
    n_chk = min(p["check_docs"], n_base)
    base_chk = set(range(n_chk // 2))
    chk = sorted(base_chk | {i for i, s, k in planted
                             if k != "contaminated" and s in base_chk})[:n_chk]
    os.makedirs(f"{out}/check", exist_ok=True)
    pq.write_table(docs_table(np.array(chk)),
                   f"{out}/check/documents.parquet")
    return {
        "records": len(texts), "base": n_base, "exact": n_exact,
        "near": n_near, "contaminated": n_contam,
        "kilobytes": sum(len(s) for s in strs) / 1024.0,
    }


# ------------------------------------------------------------------- ann

def gen_ann(rng, out, scale):
    p = ANN
    dim, c = p["dim"], p["clusters"]
    cents = rng.normal(size=(c, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    def sample(n):
        lab = rng.integers(0, c, n)
        v = cents[lab] + rng.normal(scale=p["spread"] / np.sqrt(dim),
                                    size=(n, dim))
        return v.astype(np.float32), lab.astype(np.int32)

    n = int(p["vectors"] * scale)
    v, lab = sample(n)
    ids = rng.permutation(n).astype(np.int64)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
    write(pa.table({
        "vec_id": ids,
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": lab,
    }), f"{out}/corpus")
    nq = p["queries"]
    qv, _ = sample(nq)
    qemb = pa.FixedSizeListArray.from_arrays(pa.array(qv.ravel()), dim)
    write(pa.table({
        "vec_id": np.arange(nq, dtype=np.int64) + p["query_id_base"],
        "embedding": qemb.cast(pa.list_(pa.float32())),
    }), f"{out}/queries")
    return {"records": n, "queries": nq}


GENS = {"geo_batch": (gen_geo, GEO), "curate_batch": (gen_curate, CURATE),
        "ann_serve": (gen_ann, ANN)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    gen, params = GENS[a.workload]
    manifest = {"workload": a.workload, "seed": a.seed, "params": params,
                "sizes": gen(np.random.default_rng([a.seed, 0]), a.out, 1.0),
                "warm_sizes": gen(np.random.default_rng([a.seed, 1]),
                                  f"{a.out}/warm", WARM_SCALE)}
    with open(f"{a.out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, default=str)


if __name__ == "__main__":
    main()
