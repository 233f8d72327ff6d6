"""catalog_lookup inputs and output checks.

Both sides work on one DuckDB `Oracle`: the imaging catalog derived
from the generated parquet files by the CTE graft's oracles inline
(read from src/main/scala/graft/Oracles.scala), built once per run.

`make_requests` draws the seeded request list the harness serves from
the oracle's `data_set` and `frames` tables. The class of request i
follows a fixed rotation, so every seed asks the same mix; only the
parameters come from the seed. The harness times whole rotations.

`check` re-answers every served request with the oracle and returns
the indices of the requests whose output differs.
"""
import hashlib
import json
import os
import re

import duckdb
import numpy as np

# One rotation of requests: kind, reported class, and the request's
# shape (which optional criteria it sets). Shapes are fixed so that
# every seed asks the same mix of plans; the seed draws only the values.
# Frame criteria: "cn" channel names, "ci" channel ids, "c" the CLI's
# channel-name flag, "z"/"t"/"p" slice, time and position ids.
ROTATION = [
    ("subset", "slice", ("cn", "z")),
    ("datasets", "search", ("microscope",)),
    ("text", "retrieve", 2),
    ("meta", "meta", ("ci", "p")),
    ("vec", "retrieve", None),
    ("datasets", "search", ("description", "meta")),
    ("download", "download", ("c", "z")),
]
# Warm-up: one getFramesSubset, the frames derivation every slice, meta
# and download request runs (see README.md, "Warm-up").
WARM_KINDS = ("subset",)
PROTEINS = ["TOPOR", "LMNB1", "SEC61B", "TOMM20", "ACTB", "TUBA1B",
            "CANX", "FBL", "GAPDH", "HIST1H2BJ", "MYH10", "VIM"]
DESCRIPTIONS = ["URGENT", "HIGH", "MEDIUM", "LOW", "NOT SPECIFIED", "1-", "5-"]
N_MOUNT = 3
N_TIMED = 400
# frames-table column behind each frame criterion
COLUMN = {"cn": "channel_name", "c": "channel_name", "ci": "channel_idx",
          "z": "slice_idx", "t": "time_idx", "p": "pos_idx"}


def imaging_cte(root):
    src = open(os.path.join(root, "src/main/scala/graft/Oracles.scala")).read()
    return re.search(r'val imagingCte: String = """(.*?)"""', src, re.S).group(1)


class Oracle:
    """The generated tables plus the derived imaging model in DuckDB."""

    def __init__(self, root, data):
        self.db = duckdb.connect()
        for t in ("orders", "lineitem", "documents", "embeddings"):
            self.db.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data, t + '.parquet')}')")
        # the imaging model once, as tables, instead of a CTE per query
        cte = imaging_cte(root)
        for t in ("data_set", "frames", "frames_global"):
            self.db.execute(f"CREATE TABLE {t} AS {cte} SELECT * FROM {t}")
        self.n_vecs = self.db.execute("SELECT count(*) FROM embeddings").fetchone()[0]

    def q(self, sql, params=None):
        return self.db.execute(sql, params or []).fetchall()

    def file_names(self, key):
        return [r[0] for r in self.q(
            "SELECT file_name FROM frames WHERE frames_global_id = ? ORDER BY id", [key])]


class _Frames:
    """The datasets that have frames, by id, and per-dataset views of
    their frames' criteria columns, from the oracle's tables."""

    def __init__(self, oracle):
        ds = oracle.db.execute(
            "SELECT id, dataset_serial FROM data_set WHERE id IN "
            "(SELECT frames_global_id FROM frames) ORDER BY id").fetchnumpy()
        self.cols = oracle.db.execute(
            "SELECT frames_global_id, channel_name, channel_idx, slice_idx, "
            "time_idx, pos_idx FROM frames ORDER BY frames_global_id, id").fetchnumpy()
        self.ids = ds["id"]
        self.serial = dict(zip(self.ids.tolist(), ds["dataset_serial"].tolist()))

    def of(self, key):
        lo, hi = np.searchsorted(self.cols["frames_global_id"], [key, key + 1])
        return {k: np.asarray(v[lo:hi]) for k, v in self.cols.items()}


def _frames_request(rng, frames, kind, key, shape):
    """IN-lists for the criteria in `shape`, drawn from the dataset's
    own frames so most slices are non-empty."""
    f = frames.of(key)
    r = {"kind": kind, "serial": frames.serial[key]}
    for d in shape:
        col = f[COLUMN[d]]
        vals = sorted(set(col[rng.integers(0, len(col), 2)].tolist()))
        if d == "cn":
            r["channels"] = {"names": vals}
        elif d == "ci":
            r["channels"] = {"ids": vals}
        else:
            r[d] = vals
    return r


def _hits(f, r):
    """Frames of a download request's slice."""
    keep = np.ones(len(f["frames_global_id"]), bool)
    for k in ("c", "z", "t", "p"):
        if k in r:
            keep &= np.isin(f[COLUMN[k]], r[k])
    return int(keep.sum())


def _datasets_request(rng, shape):
    start = int(rng.integers(0, 2300))
    r = {"kind": "datasets", "project": [f"PRJ{rng.integers(0, 7)}"],
         "start": str(np.datetime64("1995-01-01") + np.timedelta64(start, "D")),
         "end": str(np.datetime64("1995-01-01")
                    + np.timedelta64(start + int(rng.integers(30, 365)), "D"))}
    if "microscope" in shape:
        r["microscope"] = [f"scope-{rng.integers(0, 5)}"]
    if "description" in shape:
        r["description"] = [DESCRIPTIONS[rng.integers(0, len(DESCRIPTIONS))]]
    if "meta" in shape:
        r["meta"] = ["protein_name", PROTEINS[rng.integers(0, len(PROTEINS))]]
    return r


def make_requests(seed, data, oracle, vocab, vectors):
    """Write requests.json next to the tables; returns its contents."""
    rng = np.random.default_rng([seed, 4])
    frames = _Frames(oracle)
    # datasets with at least 3 frames get PNG payloads in the mount
    rich = [int(k) for k in rng.permutation(frames.ids)[:2000]
            if len(frames.of(k)["frames_global_id"]) >= 3]
    mount = rich[:N_MOUNT]

    def request(i):
        kind, cls, shape = ROTATION[i % len(ROTATION)]
        if kind == "datasets":
            r = _datasets_request(rng, shape)
        elif kind == "text":
            r = {"kind": "text", "q": " ".join(rng.choice(vocab, shape))}
        elif kind == "vec":
            v = vectors[rng.integers(0, len(vectors))] + rng.normal(0, 0.05, vectors.shape[1])
            r = {"kind": "vec", "v": [round(float(x), 6) for x in v]}
        elif kind == "download":
            # a download always moves bytes: redraw empty slices
            while True:
                key = mount[rng.integers(0, len(mount))]
                r = _frames_request(rng, frames, kind, key, shape)
                if _hits(frames.of(key), r):
                    break
        else:
            r = _frames_request(rng, frames, kind, int(rng.choice(frames.ids)), shape)
        r["class"] = cls
        return r

    warm = [next(i for i, r in enumerate(ROTATION) if r[0] == k) for k in WARM_KINDS]
    doc = {"rotation": len(ROTATION),
           "mount": {frames.serial[k]: oracle.file_names(k) for k in mount},
           "warm": [request(i) for i in warm],
           "timed": [request(i) for i in range(N_TIMED)]}
    with open(os.path.join(data, "requests.json"), "w") as fh:
        json.dump(doc, fh)
    return doc


def _in(col, vals, quote=False):
    items = ", ".join(f"'{v}'" if quote else str(int(v)) for v in vals)
    return f" AND {col} IN ({items})"


def _frame_filters(req, names_key=None):
    w = ""
    ch = req.get("channels")
    if ch and "names" in ch:
        w += _in("f.channel_name", ch["names"], quote=True)
    if ch and "ids" in ch:
        w += _in("f.channel_idx", ch["ids"])
    if names_key and req.get(names_key):
        w += _in("f.channel_name", req[names_key], quote=True)
    for k, c in (("z", "f.slice_idx"), ("t", "f.time_idx"), ("p", "f.pos_idx")):
        if req.get(k):
            w += _in(c, req[k])
    return w


def _cells(rows):
    return [[str(v) for v in r] for r in rows]


class Checker:
    """Re-answers served requests with the oracle."""

    def __init__(self, oracle, mount):
        self.q = oracle.q
        self.db = oracle.db
        self.n_vecs = oracle.n_vecs
        self.mount = mount

    def expected_frames(self, req, cols, names_key=None):
        return self.q(f"SELECT {cols} FROM frames f JOIN data_set d "
                      f"ON f.frames_global_id = d.id WHERE d.dataset_serial = "
                      f"'{req['serial']}'" + _frame_filters(req, names_key)
                      + " ORDER BY f.file_name, f.sha256")

    def check(self, line):
        """True when the served output of one request is correct."""
        req, out = line["req"], line["out"]
        if not line["ok"]:
            return False
        kind = req["kind"]
        if kind == "datasets":
            w = f" WHERE contains(dataset_serial, '{req['project'][0]}')"
            w += f" AND date_time >= TIMESTAMP '{req['start']}'"
            w += f" AND date_time <= TIMESTAMP '{req['end']}'"
            if req.get("microscope"):
                w += f" AND contains(microscope, '{req['microscope'][0]}')"
            if req.get("description"):
                w += f" AND contains(description, '{req['description'][0]}')"
            if req.get("meta"):
                k, v = req["meta"]
                w += (" AND id IN (SELECT dataset_id FROM frames_global WHERE "
                      f"json_extract_string(metadata_json, '$.{k}') = '{v}')")
            serials = [r[0] for r in self.q(
                f"SELECT dataset_serial FROM data_set{w} ORDER BY dataset_serial")]
            sha = hashlib.sha256("\n".join(serials).encode()).hexdigest()
            return out["n"] == len(serials) and out["sha"] == sha
        if kind == "subset":
            want = self.expected_frames(req, "d.dataset_serial, f.channel_idx, "
                                        "f.slice_idx, f.time_idx, f.pos_idx, "
                                        "f.channel_name, f.file_name, f.sha256")
            return out["rows"] == _cells(want)
        if kind == "meta":
            want = self.q(
                "SELECT d.dataset_serial, f.file_name, f.channel_idx, f.channel_name, "
                "f.slice_idx, f.time_idx, f.pos_idx, f.sha256, g.nbr_frames, "
                "g.nbr_slices, g.nbr_channels, g.nbr_timepoints, g.nbr_positions, "
                "g.metadata_json FROM frames f JOIN data_set d ON "
                "f.frames_global_id = d.id JOIN frames_global g ON g.id = d.id "
                f"WHERE d.dataset_serial = '{req['serial']}'" + _frame_filters(req)
                + " ORDER BY f.file_name, f.sha256")
            return out["rows"] == _cells(want)
        if kind == "text":
            rows = out["rows"]
            terms = sorted(set(req["q"].split()))
            ids = [int(r[1]) for r in rows]
            scores = [float(r[2]) for r in rows]
            pattern = "|".join(terms)
            hit = self.db.execute(
                "SELECT count(*) FROM documents WHERE doc_id IN "
                f"({', '.join(map(str, ids)) or 'NULL'}) AND "
                f"regexp_matches(' ' || text || ' ', ' ({pattern}) ')").fetchone()[0]
            return (len(rows) == 5 and [int(r[0]) for r in rows] == [1, 2, 3, 4, 5]
                    and len(set(ids)) == 5 and hit == 5
                    and scores == sorted(scores, reverse=True))
        if kind == "vec":
            rows = out["rows"]
            dist = [float(r[2]) for r in rows]
            ids = [int(r[1]) for r in rows]
            return (len(rows) == 5 and [int(r[0]) for r in rows] == [1, 2, 3, 4, 5]
                    and len(set(ids)) == 5 and all(0 <= i < self.n_vecs for i in ids)
                    and dist == sorted(dist))
        if kind == "download":
            dest = out["dest"]
            want = [r[0] for r in self.expected_frames(req, "f.file_name", names_key="c")]
            got = sorted(os.listdir(os.path.join(dest, "frames"))) \
                if os.path.isdir(os.path.join(dest, "frames")) else []
            if got != sorted(want):
                return False
            src = os.path.join(self.mount, "raw_frames", req["serial"])
            for n in got:
                with open(os.path.join(dest, "frames", n), "rb") as a, \
                        open(os.path.join(src, n), "rb") as b:
                    if a.read() != b.read():
                        return False
            with open(os.path.join(dest, "manifest.csv")) as fh:
                manifest = fh.read().splitlines()
            return len(manifest) == len(want) + 1
        return False


def check(oracle, work, info):
    """Indices of served requests whose output is wrong."""
    ck = Checker(oracle, info["mount"])
    bad = []
    with open(os.path.join(work, "results.jsonl")) as fh:
        for raw in fh:
            line = json.loads(raw)
            if not ck.check(line):
                bad.append(line["i"])
    return bad
