"""Seeded inputs for the benchmark's workloads, written as parquet.

tables(dir)        the query workloads' corpus: the TPC-H-shaped star schema
                   plus events, documents and embeddings at sf 0.1 (600k
                   lineitem rows, ~17 MB), with the column names, types,
                   cardinalities and value domains graft's queries read. It
                   is generated from the fixed CORPUS_SEED, because the
                   queries' row counts are pinned on it.
season(dir, seed)  the EPPA pipeline's inputs: ToyData-shaped plays whose
                   start positions, speeds and headings are jittered per
                   (seed, play, actor), and a synthetic xyac GBDT text dump
                   of the reference model's shape.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}
WORDS = ("a the data spark query table column row key value join scan filter group "
         "agg sort hash merge window stream batch vector order customer part line "
         "fast slow big small").split()
US = pa.timestamp("us", tz="UTC")


def _write(dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir, f"{name}.parquet"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start, days):
    d = np.datetime64(start, "D") + rng.integers(0, days, n)
    return pa.array(d.astype("datetime64[us]"), US)


def _pick(rng, n, values):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(),
                    pa.string())


def tables(dir):
    os.makedirs(dir, exist_ok=True)
    for name in TABLES:
        rng = np.random.default_rng([CORPUS_SEED, sorted(TABLES).index(name)])
        TABLES[name](dir, rng)


def _region(dir, rng):
    _write(dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def _nation(dir, rng):
    _write(dir, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _customer(dir, rng):
    n = ROWS["customer"]
    _write(dir, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, n, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                       "MACHINERY"])})


def _supplier(dir, rng):
    n = ROWS["supplier"]
    _write(dir, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})


def _part(dir, rng):
    n = ROWS["part"]
    adj = ["large", "hot", "blue", "small", "cold", "red", "green", "dark"]
    noun = ["ring", "bolt", "anvil", "widget", "plate", "gear", "rod", "nut"]
    a, b = rng.integers(0, 8, n), rng.integers(0, 8, n)
    _write(dir, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{adj[i]} {noun[j]}" for i, j in zip(a, b)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": _pick(rng, n, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0})


def _orders(dir, rng):
    n = ROWS["orders"]
    _write(dir, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(rng, n, ["F", "O", "P"]),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, "1995-01-01", 2405),
        "o_orderpriority": _pick(rng, n, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                          "5-LOW"])})


def _lineitem(dir, rng):
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(dir, "lineitem", {
        "l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.uniform(0, 10, n)) / 100.0,
        "l_tax": np.round(rng.uniform(0, 8, n)) / 100.0,
        "l_returnflag": _pick(rng, n, ["A", "N", "R"]),
        "l_linestatus": _pick(rng, n, ["F", "O"]),
        "l_shipdate": _days(rng, n, "1995-01-02", 2499)})


def _events(dir, rng):
    n = ROWS["events"]
    span_us = 30 * 86400 * 10**6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        ((np.arange(n) + rng.random(n)) * (span_us / n)).astype("timedelta64[us]")
    _write(dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, US),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": _pick(rng, n, ["click", "error", "purchase", "signup", "view"]),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(dir, rng):
    """10-100 words drawn uniformly from a 30-word vocabulary. One document
    in twenty is a near-duplicate (another one's text plus "dup"), one in
    625 an exact copy: the dedup operators have real clusters to find."""
    n = ROWS["documents"]
    words = np.asarray(WORDS, dtype=object)
    own = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in rng.integers(10, 101, n)]
    kind, other = rng.random(n), rng.integers(0, n, n)
    text = [own[other[i]] + " dup" if kind[i] < 0.05 else
            own[other[i]] if kind[i] < 0.05 + 1 / 625 else own[i] for i in range(n)]
    _write(dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, n, ["en", "en", "en", "de", "es", "fr", "zh"]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in text], dtype=np.int64)})


def _embeddings(dir, rng):
    """Ten labelled clusters on the 64-dimensional unit sphere."""
    n, dim = ROWS["embeddings"], 64
    centers = rng.uniform(-1, 1, (10, dim))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.uniform(-0.6, 0.6, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim)
                       .cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


TABLES = {"region": _region, "nation": _nation, "customer": _customer,
          "supplier": _supplier, "part": _part, "orders": _orders,
          "lineitem": _lineitem, "events": _events, "documents": _documents,
          "embeddings": _embeddings}

# ------------------------------------------------------------------ season

# one play on ToyData's 60-frame timeline, with the throw at frame 19:
# snap + 14 .. throw puts 1 frame in the kernel's window
GAMES, PLAYS_PER_GAME, FRAMES = 1, 1, 60
SNAP, THROW, ARRIVE = 5, 19, 37
POSITIONS = ["QB", "WR", "WR", "TE", "RB", "T", "G", "C", "G", "T", "WR",
             "CB", "CB", "S", "FS", "MLB", "OLB", "OLB", "DE", "DT", "DT", "DE"]
# the synthetic xyac model: 8 classes x 400 rounds = 3,200 trees over the 21
# XyacModel.FeatureNames. The trees of the first SPLIT_ROUNDS rounds are
# full depth-6 trees and the rest single leaves. SPLIT_ROUNDS sets the cost
# of the tree walk; it is calibrated so that one thread computes a frame in
# about 2.3 s, the cost per frame of the real model in SEASON_r13.json
# (628.5 s x 32 cores / 8,736 frames)
CLASSES, ROUNDS, DEPTH, SPLIT_ROUNDS = 8, 400, 6, 86
FEATURES = [f"{i}-closest-defender-{k}" for i in range(1, 6)
            for k in ("distance", "speed", "x", "y")] + ["y"]


def season(dir, seed):
    os.makedirs(dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    cols = {k: [] for k in ("time", "x", "y", "s", "a", "dis", "o", "dir", "event", "nflId",
                            "displayName", "jerseyNumber", "position", "frameId", "team",
                            "gameId", "playId", "playDirection", "route")}
    keys = [(g, p * 100) for g in range(1, GAMES + 1) for p in range(1, PLAYS_PER_GAME + 1)]
    for game, play in keys:
        left = play % 200 == 0
        jit = np.column_stack([rng.uniform(-3, 3, 23), rng.uniform(-3, 3, 23),
                               rng.uniform(0.8, 1.2, 23), rng.uniform(-20, 20, 23)])
        for frame in range(1, FRAMES + 1):
            for actor in range(23):
                jx, jy, js, ja = jit[actor]
                t, ball = frame * 0.1, actor == 0
                speed = 0.0 if ball else (2.0 + (actor % 5) * 1.5) * js
                ang = ((actor * 37) % 360 + ja + 360) % 360
                rad = np.radians(90.0 - ang)
                row = {
                    "time": "2018-09-01T00:00:00.000Z",
                    "x": min(115.0, max(1.0, 30.0 + actor * 2.0 + jx + speed * np.cos(rad) * t)),
                    "y": min(52.0, max(1.0, 5.0 + (actor % 11) * 4.0 + jy + speed * np.sin(rad) * t)),
                    "s": speed, "a": 0.0, "dis": speed * 0.1, "o": ang, "dir": ang,
                    "event": {SNAP: "ball_snap", THROW: "pass_forward",
                              ARRIVE: "pass_arrived"}.get(frame),
                    "nflId": None if ball else 1000 + actor,
                    "displayName": "Football" if ball else f"Player {actor}",
                    "jerseyNumber": None if ball else actor,
                    "position": None if ball else POSITIONS[(actor - 1) % 22],
                    "frameId": frame,
                    "team": "football" if ball else "home" if actor <= 11 else "away",
                    "gameId": game, "playId": play,
                    "playDirection": "left" if left else "right", "route": None}
                for k, v in row.items():
                    cols[k].append(v)
    types = {"nflId": pa.int64(), "jerseyNumber": pa.int32(), "frameId": pa.int32(),
             "gameId": pa.int64(), "playId": pa.int64(), "route": pa.string(),
             "event": pa.string(), "position": pa.string()}
    _write(dir, "tracking", {k: pa.array(v, types.get(k, pa.float64() if k in
           ("x", "y", "s", "a", "dis", "o", "dir") else pa.string())) for k, v in cols.items()})
    games = sorted({g for g, _ in keys})
    _write(dir, "games", {"gameId": pa.array(games, pa.int64()),
                          "week": pa.array([1] * len(games), pa.int32()),
                          "homeTeamAbbr": ["HOM"] * len(games),
                          "visitorTeamAbbr": ["VIS"] * len(games)})
    _write(dir, "plays", {
        "gameId": pa.array([g for g, _ in keys], pa.int64()),
        "playId": pa.array([p for _, p in keys], pa.int64()),
        "possessionTeam": ["VIS" if p % 200 == 0 else "HOM" for _, p in keys],
        "epa": rng.uniform(-0.5, 1.5, len(keys)),
        "passResult": ["I" if p % 300 == 0 else "C" for _, p in keys],
        "penaltyCodes": pa.array([None] * len(keys), pa.string())})
    # pre-play state for the EPA tables: down and distance per play
    _write(dir, "pre_state", {
        "gameId": pa.array([g for g, _ in keys], pa.int64()),
        "playId": pa.array([p for _, p in keys], pa.int64()),
        "down_x": pa.array([(g + p) % 4 + 1 for g, p in keys], pa.int32()),
        "yardline_100": [20.0 + p % 60 for _, p in keys],
        "ydstogo": [1.0 + p % 10 for _, p in keys]})
    with open(os.path.join(dir, "xyac_model.txt"), "w") as f:
        f.write(model_dump(seed))


def _leaf(rng, cls):
    return float(rng.uniform(-0.2, 0.2) + (cls - 3.5) * 0.01)


def model_dump(seed):
    """XGBoost text dump: ROUNDS x CLASSES boosters, booster i scoring class
    i % CLASSES. Thresholds fall inside each feature's physical range, so
    the walks take both branches."""
    rng = np.random.default_rng([seed, 2])
    internal = (1 << DEPTH) - 1
    out = []
    for i in range(ROUNDS * CLASSES):
        rnd, cls = divmod(i, CLASSES)
        out.append(f"booster[{i}]:")
        if rnd >= SPLIT_ROUNDS:
            out.append(f"0:leaf={_leaf(rng, cls)!r}")
            continue
        feats = rng.integers(0, len(FEATURES), internal)
        for node in range(2 * internal + 1):
            indent = "\t" * ((node + 1).bit_length() - 1)
            if node < internal:
                f = FEATURES[feats[node]]
                thr = float(rng.uniform(2, 51) if f == "y" else rng.uniform(0, 25)
                       if f.endswith("distance") else rng.uniform(0, 9)
                       if f.endswith("speed") else rng.uniform(-20, 20))
                miss = 2 * node + 1 + int(rng.integers(0, 2))
                out.append(f"{indent}{node}:[{f}<{thr!r}] yes={2 * node + 1},"
                           f"no={2 * node + 2},missing={miss}")
            else:
                out.append(f"{indent}{node}:leaf={_leaf(rng, cls)!r}")
    return "\n".join(out) + "\n"
