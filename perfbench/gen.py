"""Seeded input generator for the benchmark workloads.

Everything here is a function of (workload, seed, size) alone and uses
NumPy/pyarrow only, never the program under test. Each generated input set
lives in its own directory under the cache root, with a `params.json` that
carries the workload's parameters (calibration constants, axes, planted
truth) and a `DONE` marker written last, so a half-written set is never
reused.
"""

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# how many input sets of one workload the cache keeps (oldest evicted first)
CACHE_KEEP = 4
# part of every cache directory name: bump it when a generator changes, so
# input sets made by an older generator are never reused
GEN_VERSION = 2

def rng_for(seed, stream):
    """Independent generator per (seed, input stream); any integer seed."""
    return np.random.default_rng([seed % 2**64, stream])


# ---------------------------------------------------------------------------
# sed_bin: single-event detector table + the calibration constants
# ---------------------------------------------------------------------------

SED_FILES = 16
DET = 256                  # detector pixels per axis == dfield grid size
JITTER_AMP = 0.5
SECTOR_DELAYS = [0.0, 3.0, -2.0, 5.0, 1.0, -4.0, 2.0, -1.0]
SHEAR = 0.03               # affine momentum-correction field: r + s*(c-128)
K_SCALE = 0.01             # inverse Angstrom per corrected pixel
TOF_DISTANCE = 1.0
TIME_OFFSET = 1.0e-8
TOF_BINWIDTH = 4.125e-12
TOF_BINNING = 1
AXIS_BINS = {"kx": 96, "ky": 96, "energy": 128}


def tof2ev(t):
    """The flight-tube model of the energy axis, written out independently."""
    ratio = TOF_DISTANCE / (t * (TOF_BINWIDTH * TOF_BINNING) - TIME_OFFSET)
    return 2.84281e-12 * ratio * ratio


def sed_intervals(x, y, tof, sector):
    """For each event, the closed interval that every calibrated coordinate
    can take once the detector coordinates are jittered by at most
    JITTER_AMP: the map to (kx, ky) is affine, tof -> energy is monotone
    decreasing, so the interval ends are exact images of the jitter box."""
    c = DET / 2.0
    a = JITTER_AMP
    kx0 = K_SCALE * (x + SHEAR * (y - c) - c)
    ky0 = K_SCALE * (y - SHEAR * (x - c) - c)
    dk = K_SCALE * a * (1.0 + SHEAR)
    t0 = tof - np.asarray(SECTOR_DELAYS)[sector]
    return {
        "kx": (kx0 - dk, kx0 + dk),
        "ky": (ky0 - dk, ky0 + dk),
        "energy": (tof2ev(t0 + a), tof2ev(t0 - a)),
    }


def sed_events(rng, n):
    # momentum pattern: six blobs on a ring plus a diffuse background
    ang = rng.integers(0, 6, n) * (np.pi / 3) + rng.normal(0, 0.05, n)
    rad = rng.normal(70.0, 6.0, n)
    bg = rng.random(n) < 0.3
    x = np.where(bg, rng.normal(128, 45, n), 128 + rad * np.cos(ang))
    y = np.where(bg, rng.normal(128, 45, n), 128 + rad * np.sin(ang))
    x = np.clip(np.rint(x), 16, DET - 16).astype(np.int32)
    y = np.clip(np.rint(y), 16, DET - 16).astype(np.int32)
    # time of flight: three photoemission lines over a flat background
    line = rng.integers(0, 3, n)
    tof = np.where(rng.random(n) < 0.25, rng.uniform(62500, 68500, n),
                   np.array([64200.0, 65400.0, 66800.0])[line] + rng.normal(0, 350, n))
    tof = np.clip(np.rint(tof), 62000, 69000).astype(np.int32)
    sector = rng.integers(0, 8, n).astype(np.int8)
    return x, y, tof, sector


def gen_sed(seed, n, out):
    rng = rng_for(seed, 1)
    x, y, tof, sector = sed_events(rng, n)
    os.makedirs(os.path.join(out, "events"))
    bounds = np.linspace(0, n, SED_FILES + 1).astype(np.int64)
    for i in range(SED_FILES):
        a, b = bounds[i], bounds[i + 1]
        pq.write_table(pa.table({
            "x": x[a:b], "y": y[a:b], "tof": tof[a:b], "sector": sector[a:b],
            "event_id": np.arange(a, b, dtype=np.int64)}),
            os.path.join(out, "events", f"part-{i:03d}.parquet"))
    iv = sed_intervals(x, y, tof, sector)
    axes = []
    for name in ("kx", "ky", "energy"):
        lo, hi = iv[name][0].min(), iv[name][1].max()
        pad = 0.01 * (hi - lo)
        axes.append({"col": name, "bins": AXIS_BINS[name], "lo": float(lo - pad),
                     "hi": float(hi + pad)})
    return {"rows": int(n), "axes": axes, "bounds": marginal_bounds(iv, axes)}


def bin_index(v, ax):
    step = (ax["hi"] - ax["lo"]) / ax["bins"]
    return np.clip(np.floor((v - ax["lo"]) / step), 0, ax["bins"] - 1).astype(np.int64)


def marginal_bounds(iv, axes):
    """Per axis, the least and the most events each bin can hold when every
    event may sit anywhere in its interval, and how many intervals reach
    outside the axis (0 by the choice of the axes)."""
    bounds = {}
    for ax in axes:
        lo, hi = iv[ax["col"]]
        eps = 1e-9 * (ax["hi"] - ax["lo"])
        a, b = bin_index(lo - eps, ax), bin_index(hi + eps, ax)
        n = ax["bins"]
        least = np.bincount(a[a == b], minlength=n)
        most = np.cumsum(np.bincount(a, minlength=n + 1) - np.bincount(b + 1, minlength=n + 1))[:n]
        outside = int(((lo - eps) < ax["lo"]).sum() + ((hi + eps) > ax["hi"]).sum())
        bounds[ax["col"]] = {"least": least.tolist(), "most": most.tolist(), "outside": outside}
    return bounds


# ---------------------------------------------------------------------------
# text corpora: random documents, exact copies, near copies
# ---------------------------------------------------------------------------

VOCAB = 30000
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu",
             "di", "fe", "go", "hu", "ja", "be", "co", "xi", "wy"]
# Document shape and copy pattern come from the repository's own text data:
# sf0.1 documents.parquet holds 5,000 documents of 10..100 words (uniform)
# with 8 exact-duplicate pairs, and MakeBig scales it by writing every
# document 8 times, copy k with " v<k>" appended when k is odd. The
# shortest documents are raised to 24 words so that every appended-token
# near pair sits at word-3-gram Jaccard >= 22/24 = 0.917, far above the
# 0.8 dedup threshold (at 10 words a pair of suffixed copies sits at 0.8).
DOC_WORDS = (24, 100)
SF01_DOCS = 5000
SF01_EXACT_PAIRS = 8


def vocabulary():
    s = np.array(SYLLABLES)
    i = np.arange(VOCAB)
    k = len(SYLLABLES)
    return np.char.add(np.char.add(s[i % k], s[(i // k) % k]),
                       np.char.add(s[(i // (k * k)) % k], np.char.mod("%d", i % 7)))


class Texts:
    """Random documents over a Zipf-weighted vocabulary: two unrelated
    documents share almost no word 3-gram, so their shingle Jaccard sits
    near 0, far below the 0.8 dedup threshold."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = vocabulary()
        w = 1.0 / np.arange(1, VOCAB + 1) ** 0.9
        self.cdf = np.cumsum(w / w.sum())

    def doc(self):
        k = int(self.rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
        toks = np.minimum(np.searchsorted(self.cdf, self.rng.random(k)), VOCAB - 1)
        return " ".join(self.vocab[toks])


def near(text, k):
    """MakeBig's near copy: one token appended, which adds one word 3-gram."""
    return f"{text} v{k}"


def shingles(text, n=3):
    t = text.split()
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


STREAM_BATCHES = 3


def gen_stream(seed, per_batch, out):
    """The first three micro-batches of the MakeBig corpus fed in file
    order, one parquet file per batch: MakeBig writes copy k of every
    document as one block, so batch 0 holds the documents (with sf0.1's
    share of in-batch exact copies), batch 1 their " v1" near copies in the
    same order, batch 2 their byte-identical copies. Ids ascend across
    batches (the ingest loop's monotone-id contract) and file mtimes ascend
    in batch order. `expect` is the from-scratch classification of every
    document: [id, batch, status, match id]."""
    rng = rng_for(seed, 3)
    tx = Texts(rng)
    feed = os.path.join(out, "feed")
    os.makedirs(feed)
    n_dd = round(SF01_EXACT_PAIRS * per_batch / SF01_DOCS)
    docs = [tx.doc() for _ in range(per_batch - n_dd)]
    src = list(range(len(docs))) + sorted(int(j) for j in rng.integers(0, len(docs), n_dd))
    base_ids = 1000 + np.arange(per_batch, dtype=np.int64)
    keeper = {}                # batch-0 text -> id of its first occurrence
    for i, j in zip(base_ids.tolist(), src):
        keeper.setdefault(docs[j], i)
    expect = []
    base_mtime = time.time() - 3600
    for b in range(STREAM_BATCHES):
        ids = base_ids + b * per_batch
        texts = [near(docs[j], 1) if b == 1 else docs[j] for j in src]
        first = {}
        for i, t, j in zip(ids.tolist(), texts, src):
            if b == 2:
                expect.append([i, b, "dup_corpus", keeper[docs[j]]])
            elif t in first:
                expect.append([i, b, "dup_delta", first[t]])
            else:
                first[t] = i
                expect.append([i, b, "new" if b == 0 else "near_corpus",
                               -1 if b == 0 else keeper[docs[j]]])
        path = os.path.join(feed, f"batch-{b:03d}.parquet")
        pq.write_table(pa.table({"doc_id": ids, "text": pa.array(texts)}), path)
        os.utime(path, (base_mtime + 10 * b, base_mtime + 10 * b))
    return {"rows": len(expect), "batches": STREAM_BATCHES, "expect": expect}


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

SIZES = {
    "sed_bin": 8_000_000,      # events: the size of the sed-chain pilot
    "stream_ingest": SF01_DOCS // 8,  # documents per micro-batch
}


def ensure(workload, seed, cache_root, size=None):
    """Directory of the input set for (workload, seed, size), generated on
    first use. Returns (directory, params)."""
    size = SIZES[workload] if size is None else size
    d = os.path.join(cache_root, f"{workload}-v{GEN_VERSION}-s{seed}-n{size}")
    done = os.path.join(d, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if workload == "sed_bin":
            params = gen_sed(seed, size, d)
        else:
            params = gen_stream(seed, size, d)
        params.update(workload=workload, seed=seed)
        with open(os.path.join(d, "params.json"), "w") as f:
            json.dump(params, f)
        with open(done, "w") as f:
            f.write("ok\n")
        evict(cache_root, workload, keep=d)
    os.utime(done)
    with open(os.path.join(d, "params.json")) as f:
        return d, json.load(f)


def evict(cache_root, workload, keep):
    sets = [os.path.join(cache_root, e) for e in os.listdir(cache_root)
            if e.startswith(workload + "-")]
    def age(p):
        m = os.path.join(p, "DONE")
        return os.path.getmtime(m) if os.path.exists(m) else 0.0
    for p in sorted(sets, key=age)[:-CACHE_KEEP]:
        if p != keep:
            shutil.rmtree(p, ignore_errors=True)
