"""Independent output checks for the benchmark workloads.

Each check compares what the program wrote against computations made here,
from the generated inputs and their planted truth, with NumPy and plain
Python, never with the program. Every check returns a list of failure
messages; an empty list means the output is correct.

    python3 perfbench/checks.py --self-test

runs every check on a correct synthetic output and on corrupted copies of
it (one bin dropped, one status flipped, ...) and fails unless each check
accepts the first and rejects every corruption.
"""

import glob
import os
import sys
import tempfile

import numpy as np
import pyarrow.parquet as pq

import gen

# planted near copies may be missed by MinHash-LSH (12 hashes in 4 bands of
# 3): at shingle Jaccard >= 0.917 the miss chance is below 0.3% per pair, so
# a 2% miss allowance is never reached by chance, yet catches a broken stage
NEAR_RECALL = 0.98


def read_dir(path, columns=None):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        return None
    tabs = [pq.read_table(f, columns=columns) for f in files]
    out = {}
    for c in tabs[0].column_names:
        out[c] = np.concatenate([t.column(c).to_numpy(zero_copy_only=False) for t in tabs])
    return out


# ---------------------------------------------------------------------------
# sed_bin
# ---------------------------------------------------------------------------

def sed_truth(input_dir, params):
    """Per axis, the least and the most events each bin can hold once the
    detector coordinates are jittered; gen.py computes them from the
    calibration formulas on the unjittered events when it writes them."""
    bounds = {c: (np.array(v["least"]), np.array(v["most"]), v["outside"])
              for c, v in params["bounds"].items()}
    return {"rows": params["rows"], "bounds": bounds, "axes": params["axes"]}


def check_sed(cube, truth):
    if cube is None:
        return ["no cube was written"]
    fails = []
    total = int(cube["cnt"].sum())
    if total != truth["rows"]:
        fails.append(f"histogram total {total} != {truth['rows']} input events")
    for ax in truth["axes"]:
        least, most, outside = truth["bounds"][ax["col"]]
        if outside:
            fails.append(f"{outside} events can fall outside the {ax['col']} axis")
        idx = cube[ax["col"] + "_bin"].astype(np.int64)
        if idx.min() < 0 or idx.max() >= ax["bins"]:
            fails.append(f"{ax['col']} bin index outside [0, {ax['bins']})")
            continue
        got = np.bincount(idx, weights=cube["cnt"], minlength=ax["bins"])
        bad = np.nonzero((got < least) | (got > most))[0]
        if len(bad):
            i = bad[0]
            fails.append(f"{ax['col']} marginal off in {len(bad)} bins; bin {i}: "
                         f"{int(got[i])} not in [{least[i]}, {most[i]}]")
    keys = np.stack([cube[a["col"] + "_bin"].astype(np.int64) for a in truth["axes"]], 1)
    if len(np.unique(keys, axis=0)) != len(keys):
        fails.append("a bin appears more than once in the cube")
    return fails


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

def stream_truth(input_dir, params):
    feed = read_dir(os.path.join(input_dir, "feed"))
    text = dict(zip(feed["doc_id"].tolist(), feed["text"].tolist()))
    expect = {e[0]: (e[1], e[2], e[3]) for e in params["expect"]}
    return {"text": text, "expect": expect}


def read_stream_out(path):
    parts = sorted(glob.glob(os.path.join(path, "batch=*")))
    if not parts:
        return None
    rows = []
    for p in parts:
        t = read_dir(p, ["doc_id", "status", "match_id"])
        if t is not None:
            rows += list(zip(t["doc_id"].tolist(), t["status"].tolist(), t["match_id"].tolist()))
    return rows


def check_stream(rows, truth):
    if rows is None:
        return ["no classified output was written"]
    fails = []
    text, expect = truth["text"], truth["expect"]
    seen = [r[0] for r in rows]
    if len(seen) != len(set(seen)) or set(seen) != set(expect):
        fails.append(f"{len(seen)} classifications for {len(expect)} fed docs "
                     f"({len(set(seen))} distinct)")
    first = {}
    for i in sorted(text):
        first.setdefault(text[i], i)
    near_missed = near_planted = 0
    bad_status = []
    for doc, status, match in rows:
        if doc not in expect:
            continue
        batch, want, want_match = expect[doc]
        if first[text[doc]] != doc and status == "new":
            fails.append(f"byte-identical re-arrival {doc} classified new")
        if status == "near_corpus":
            if match not in expect or expect[match][0] >= batch:
                fails.append(f"near_corpus match {match} of {doc} did not arrive earlier")
            elif gen.jaccard(text[doc], text[match]) < 0.8:
                fails.append(f"near_corpus match {match} of {doc} does not verify")
        if want == "near_corpus":
            near_planted += 1
            if status == "new":
                near_missed += 1
                continue
        if (status, match) != (want, want_match):
            bad_status.append((doc, status, match, want, want_match))
    if bad_status:
        d = bad_status[0]
        fails.append(f"{len(bad_status)} docs differ from the from-scratch classification; "
                     f"doc {d[0]}: {d[1]}/{d[2]}, expected {d[3]}/{d[4]}")
    if near_missed > (1 - NEAR_RECALL) * near_planted:
        fails.append(f"{near_missed} of {near_planted} planted near copies missed")
    return fails


# ---------------------------------------------------------------------------
# self-test: each check accepts a correct output and rejects corruptions
# ---------------------------------------------------------------------------

def _expect(name, fails, want_fail):
    ok = bool(fails) == want_fail
    print(f"self-test {'ok  ' if ok else 'FAIL'} {name}: "
          f"{'rejected: ' + fails[0] if fails else 'accepted'}")
    return ok


def self_test():
    ok = True
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        # sed_bin: a NumPy-made cube with its own in-bound jitter
        d, p = gen.ensure("sed_bin", 7, tmp, 40_000)
        ev = read_dir(os.path.join(d, "events"))
        rng = np.random.default_rng(7)
        x = ev["x"] + rng.uniform(-0.5, 0.5, len(ev["x"]))
        y = ev["y"] + rng.uniform(-0.5, 0.5, len(ev["x"]))
        t = ev["tof"] + rng.uniform(-0.5, 0.5, len(ev["x"])) - \
            np.asarray(gen.SECTOR_DELAYS)[ev["sector"].astype(np.int64)]
        c = gen.DET / 2.0
        vals = {"kx": gen.K_SCALE * (x + gen.SHEAR * (y - c) - c),
                "ky": gen.K_SCALE * (y - gen.SHEAR * (x - c) - c),
                "energy": gen.tof2ev(t)}
        keys = np.stack([gen.bin_index(vals[a["col"]], a) for a in p["axes"]], 1)
        uniq, cnt = np.unique(keys, axis=0, return_counts=True)
        cube = {a["col"] + "_bin": uniq[:, k] for k, a in enumerate(p["axes"])}
        cube["cnt"] = cnt
        truth = sed_truth(d, p)
        ok &= _expect("sed_bin correct cube", check_sed(cube, truth), False)
        drop = {k: v[1:] for k, v in cube.items()}
        ok &= _expect("sed_bin one bin dropped", check_sed(drop, truth), True)
        moved = {k: v.copy() for k, v in cube.items()}
        moved["energy_bin"] = np.minimum(moved["energy_bin"] + 3, p["axes"][2]["bins"] - 1)
        ok &= _expect("sed_bin energy shifted by 3 bins", check_sed(moved, truth), True)

        # stream_ingest: the planted classification itself
        d, p = gen.ensure("stream_ingest", 7, tmp, 400)
        truth = stream_truth(d, p)
        rows = [(e[0], e[2], e[3]) for e in p["expect"]]
        ok &= _expect("stream_ingest correct classification", check_stream(rows, truth), False)
        k = next(i for i, r in enumerate(rows) if r[1] == "dup_corpus")
        flip = list(rows)
        flip[k] = (rows[k][0], "new", -1)
        ok &= _expect("stream_ingest dup_corpus flipped to new", check_stream(flip, truth), True)
        k = max(i for i, e in enumerate(p["expect"]) if e[2] == "new")
        flip = list(rows)
        flip[k] = (rows[k][0], "near_corpus", rows[0][0])
        ok &= _expect("stream_ingest new flipped to near_corpus", check_stream(flip, truth), True)
        ok &= _expect("stream_ingest one doc lost", check_stream(rows[1:], truth), True)
    return ok


if __name__ == "__main__":
    if sys.argv[1:] != ["--self-test"]:
        raise SystemExit(__doc__)
    sys.exit(0 if self_test() else 1)
