"""Seeded input generator for the benchmark workloads.

Every table is derived from the seed alone: no file outside the output
directory is read and no program function is called, so a change to the
program cannot change its own inputs. Schemas follow the landed shapes
the program reads: fastf1/Ergast-like F1 tables and the harness tables
(TPC-H-shaped star schema, `events`, `documents`, `embeddings`).

`generate(workload, seed, out_dir)` writes parquet tables (and the
standings JSON) into `out_dir` and returns the sizes and duplicate rates
it produced.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload (NOTES.md has the probes behind them).
DOCS = 8_000
DOC_EXACT_DUP = 0.05
DOC_NEAR_DUP = 0.10
# a near copy replaces this share of its source's tokens (at least one),
# which keeps its 3-shingle Jaccard with the source at 0.8 or more
DOC_NEAR_SWAP = 0.03
DOC_LOW_QUALITY = 0.08
# several files, so the scan splits across the task threads (a single 3 MB
# file scans as one or two tasks)
DOC_FILES = 4
F1_ROUNDS = 2
F1_DRIVERS = 20
F1_LAPS = 60

VECTORS = 300
VEC_NEAR_DUP = 0.10
TPCH_ORDERS = 30_000

WORKLOADS = ["etl_sql", "curate_stream"]


def _write(out, name, cols, files=1):
    """One parquet file, or a directory of `files` contiguous slices (a
    table a scan splits across that many tasks)."""
    table = pa.table(cols)
    if files == 1:
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        return
    os.makedirs(os.path.join(out, f"{name}.parquet"))
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out, f"{name}.parquet", f"part-{i}.parquet"))


def documents(rng, out, n=DOCS, files=DOC_FILES):
    """A Zipf-worded corpus with exact copies, near copies (at least 0.8
    3-shingle Jaccard with their source) and short repetitive low-quality
    docs. Copies always point at a smaller doc_id.
    Beside it lands `documents_truth.parquet` (doc_id, kind, src_id), which
    only the benchmark's output check reads."""
    vocab = np.array([w + str(i) if i >= 40 else w for i, w in enumerate(
        (["spark", "stream", "query", "table", "column", "window", "vector",
          "filter", "merge", "batch", "shuffle", "partition", "a", "the", "of",
          "join", "group", "order", "scan", "value", "row", "key", "hash",
          "sort", "line", "part", "data", "fast", "slow", "big", "small",
          "customer", "agg", "index", "cache", "plan", "stage", "task",
          "driver", "worker"] * 200)[:4000])])
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks
    p /= p.sum()
    kind = rng.random(n)
    lens = rng.integers(30, 160, n)
    words = rng.choice(len(vocab), int(lens.sum()), p=p)
    ends = np.cumsum(lens)
    texts, kinds, srcs, long_ids = [], [], [], []
    for i in range(n):
        k = kind[i]
        src = None
        if i > 10 and k < DOC_EXACT_DUP:
            src = int(rng.integers(0, i))
            texts.append(texts[src])
            kinds.append("exact")
        elif i > 10 and k < DOC_EXACT_DUP + DOC_NEAR_DUP and long_ids:
            # near copies are of docs with at least 30 tokens, so one swapped
            # token leaves most shingles intact
            src = long_ids[int(rng.integers(0, len(long_ids)))]
            toks = texts[src].split(" ")
            swap = rng.choice(len(toks), max(1, round(DOC_NEAR_SWAP * len(toks))),
                              replace=False)
            for j in swap:
                toks[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks))
            kinds.append("near")
        elif k < DOC_EXACT_DUP + DOC_NEAR_DUP + DOC_LOW_QUALITY:
            w = vocab[rng.integers(0, 12, 2)]
            texts.append(" ".join(w[rng.integers(0, 2, rng.integers(3, 12))]))
            kinds.append("low")
        else:
            texts.append(" ".join(vocab[words[ends[i] - lens[i]:ends[i]]]))
            kinds.append("orig")
        srcs.append(src)
        if texts[-1].count(" ") >= 29:
            long_ids.append(i)
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs[rng.integers(0, 5, n)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))},
        files=files)
    _write(out, "documents_truth", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)), "kind": kinds,
        "src_id": pa.array(srcs, type=pa.int64())})
    return {"docs": n, "exact_dup_rate": kinds.count("exact") / n,
            "near_dup_rate": kinds.count("near") / n,
            "low_quality_rate": kinds.count("low") / n, "distinct_texts": len(set(texts))}


def embeddings(rng, out, n=VECTORS, dims=64):
    """Unit vectors in `dims` dimensions, as the harness `embeddings` table;
    a share are near copies (cosine about 0.9) of an earlier vector, which
    the streaming gate rejects."""
    x = rng.standard_normal((n, dims))
    near = 0
    for i in range(40, n):
        if rng.random() < VEC_NEAR_DUP:
            x[i] = x[rng.integers(0, i)] / np.sqrt(dims) * 2.0 + x[i] / np.sqrt(dims)
            near += 1
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})
    return {"vectors": n, "dims": dims, "near_dup_rate": near / n}


def tpch(rng, out, orders=TPCH_ORDERS):
    """The harness's TPC-H-shaped star schema (region, nation, customer,
    supplier, part, orders, lineitem) with its value domains, scaled by the
    order count; a third of the customers place no order."""
    n_cust, n_supp, n_part = orders // 10, max(10, orders // 150), orders // 7
    day = np.timedelta64(1, "D")
    first = np.datetime64("1995-01-01", "D")
    segments = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    _write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                           "n_name": [f"NATION_{k}" for k in range(25)],
                           "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(["small", "new", "blue", "old", "hot", "large", "cold", "red"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    types = np.array(["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"])
    price = 900.0 + (pk % 1000) / 10.0
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": price})
    ok = np.arange(orders, dtype=np.int64)
    buyers = ck[ck % 3 != 0]
    odate = first + rng.integers(0, 2404, orders) * day
    lines = rng.integers(1, 8, orders)
    l_ok = np.repeat(ok, lines)
    n_li = len(l_ok)
    l_ln = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    l_pk = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[l_pk], 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * day
    shipped = ship <= np.datetime64("1998-08-01", "D")
    l_status = np.where(shipped, "F", "O")
    flag = np.where(shipped, np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], "N")
    n_open = np.add.reduceat((l_status == "O").astype(np.int64), np.cumsum(lines) - lines)
    total = np.round(np.add.reduceat(ext * (1 + tax) * (1 - disc), np.cumsum(lines) - lines), 2)
    _write(out, "orders", {
        "o_orderkey": ok, "o_custkey": buyers[rng.integers(0, len(buyers), orders)],
        "o_orderstatus": np.where(n_open == lines, "O", np.where(n_open == 0, "F", "P")),
        "o_totalprice": total,
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, orders)]})
    _write(out, "lineitem", {
        "l_orderkey": l_ok, "l_partkey": l_pk.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(l_ln), "l_quantity": qty, "l_extendedprice": ext,
        "l_discount": disc, "l_tax": tax, "l_returnflag": flag, "l_linestatus": l_status,
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": orders,
            "lineitem": n_li}


def events(rng, out, n=200):
    """A small `events` table (the SQL surface registers every harness table)."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    _write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + np.cumsum(rng.integers(1, 300_000_000, n)).astype("timedelta64[us]")),
        "user_id": rng.integers(0, 50, n).astype(np.int64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 100, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def f1_season(rng, out, rounds=F1_ROUNDS, n_drivers=F1_DRIVERS, n_laps=F1_LAPS,
              year=2025):
    """One season in fastf1/Ergast shapes: laps (with NaT lap times and
    deleted laps), race results (with "R"/"D" classified positions),
    qualifying (knocked-out drivers have no Q2/Q3), the schedule (NaT
    session dates) and standings JSON (entries missing keys)."""
    teams = [f"Team {t}" for t in range(n_drivers // 2)]
    abbr = [f"D{d:02d}" for d in range(n_drivers)]
    full = [f"Driver Number{d}" for d in range(n_drivers)]
    url = [f"https://img.example/{a}.png" for a in abbr]
    team_of = [teams[d // 2] for d in range(n_drivers)]
    _write(out, "drivers", {"Abbreviation": abbr, "FullName": full,
                            "HeadshotUrl": url, "TeamName": team_of})
    lap_rows = {k: [] for k in ["Round", "Session", "Driver", "LapTime", "Compound",
                                "IsPersonalBest", "LapNumber", "SpeedST", "Deleted"]}
    res = {k: [] for k in ["Round", "FullName", "TeamName", "HeadshotUrl", "Position",
                           "ClassifiedPosition", "Points", "GridPosition"]}
    qual = {k: [] for k in ["Round", "FullName", "TeamName", "HeadshotUrl", "Position",
                            "Q1", "Q2", "Q3"]}
    sessions = ["Practice 1", "Practice 2", "Practice 3", "Qualifying", "Race"]
    compounds = ["SOFT", "MEDIUM", "HARD"]
    points = [25, 18, 15, 12, 10, 8, 6, 4, 2, 1] + [0] * max(0, n_drivers - 10)
    ev = {k: [] for k in ["RoundNumber", "Country", "OfficialEventName", "EventName",
                          "EventFormat"]}
    for i in range(1, 6):
        ev[f"Session{i}"], ev[f"Session{i}DateUtc"] = [], []
    standings_pts = np.zeros(n_drivers, dtype=np.int64)
    for r in range(1, rounds + 1):
        for s in sessions:
            for d in range(n_drivers):
                for lap in range(1, n_laps + 1):
                    lap_rows["Round"].append(r)
                    lap_rows["Session"].append(s)
                    lap_rows["Driver"].append(abbr[d])
                    nat = rng.random() < 0.03
                    lap_rows["LapTime"].append(None if nat else int(rng.integers(80_000, 100_000)))
                    lap_rows["Compound"].append(compounds[rng.integers(0, 3)])
                    lap_rows["IsPersonalBest"].append(bool(rng.random() < 0.05))
                    lap_rows["LapNumber"].append(float(lap))
                    lap_rows["SpeedST"].append(float(rng.integers(28_000, 35_000)) / 100.0)
                    lap_rows["Deleted"].append(bool(rng.random() < 0.02))
        order = rng.permutation(n_drivers)
        for pos, d in enumerate(order, start=1):
            res["Round"].append(r)
            res["FullName"].append(full[d]); res["TeamName"].append(team_of[d])
            res["HeadshotUrl"].append(url[d]); res["Position"].append(float(pos))
            cls = "R" if pos == n_drivers else ("D" if pos == n_drivers - 1 else str(pos))
            res["ClassifiedPosition"].append(cls)
            res["Points"].append(float(points[pos - 1]))
            res["GridPosition"].append(float(rng.integers(1, n_drivers + 1)))
            standings_pts[d] += points[pos - 1]
        qorder = rng.permutation(n_drivers)
        for pos, d in enumerate(qorder, start=1):
            qual["Round"].append(r)
            qual["FullName"].append(full[d]); qual["TeamName"].append(team_of[d])
            qual["HeadshotUrl"].append(url[d]); qual["Position"].append(float(pos))
            qual["Q1"].append(int(rng.integers(80_000, 95_000)))
            qual["Q2"].append(int(rng.integers(80_000, 95_000)) if pos <= 15 else None)
            qual["Q3"].append(int(rng.integers(80_000, 95_000)) if pos <= 10 else None)
        ev["RoundNumber"].append(r); ev["Country"].append(f"Country {r}")
        ev["OfficialEventName"].append(f"Formula 1 Grand Prix {r} {year}")
        ev["EventName"].append(f"Grand Prix {r}"); ev["EventFormat"].append("conventional")
        start = np.datetime64(f"{year}-03-01T00:00:00", "us") + np.timedelta64(14 * r, "D")
        for i, s in enumerate(sessions, start=1):
            ev[f"Session{i}"].append(s)
            nat = i == 3 and r % 2 == 0  # a missing session date renders ""
            ev[f"Session{i}DateUtc"].append(
                None if nat else (start + np.timedelta64(i * 5, "h")).item())
        drv = []
        for d in np.argsort(-standings_pts, kind="stable"):
            entry = {"position": str(len(drv) + 1), "positionText": str(len(drv) + 1),
                     "points": str(int(standings_pts[d])), "wins": str(int(rng.integers(0, 3))),
                     "Driver": {"driverId": f"driver{d}", "permanentNumber": str(d + 1),
                                "givenName": "Driver", "familyName": f"Number{d}"},
                     "Constructors": [{"constructorId": f"team{d // 2}",
                                       "name": team_of[d]}]}
            if d % 7 == 3:  # a reserve entry without position/permanentNumber
                del entry["position"], entry["Driver"]["permanentNumber"]
                entry["positionText"] = "-"
            drv.append(entry)
        cons = [{"position": str(i + 1), "positionText": str(i + 1),
                 "points": str(int(standings_pts[2 * t] + standings_pts[2 * t + 1])),
                 "wins": "0",
                 "Constructor": {"constructorId": f"team{t}", "name": teams[t]}}
                for i, t in enumerate(range(len(teams)))]
        for name, key, rows in [("driver_standings", "DriverStandings", drv),
                                ("constructor_standings", "ConstructorStandings", cons)]:
            with open(os.path.join(out, f"{name}_r{r}.json"), "w") as f:
                json.dump({"MRData": {"StandingsTable": {"StandingsLists": [
                    {"season": str(year), "round": str(r), key: rows}]}}}, f)
    lap_rows["LapTime"] = pa.array(lap_rows["LapTime"], type=pa.int64())
    lap_rows["Round"] = pa.array(lap_rows["Round"], type=pa.int32())
    _write(out, "laps", lap_rows)
    res["Round"] = pa.array(res["Round"], type=pa.int32())
    _write(out, "results", res)
    qual["Round"] = pa.array(qual["Round"], type=pa.int32())
    for q in ["Q1", "Q2", "Q3"]:
        qual[q] = pa.array(qual[q], type=pa.int64())
    _write(out, "quali", qual)
    ev["RoundNumber"] = pa.array(ev["RoundNumber"], type=pa.int32())
    for i in range(1, 6):
        ev[f"Session{i}DateUtc"] = pa.array(ev[f"Session{i}DateUtc"], type=pa.timestamp("us"))
    _write(out, "events_f1", ev)
    return {"rounds": rounds, "drivers": n_drivers,
            "laps": len(lap_rows["Driver"]), "nat_laps": sum(t is None for t in
                                                          lap_rows["LapTime"].to_pylist())}


def generate(workload, seed, out):
    """Inputs of both parts of a workload; the SQL surface registers every
    harness table, so the ones a part does not use land small."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    if workload == "etl_sql":
        stats = {"f1": f1_season(rng, out), "tpch": tpch(rng, out)}
        embeddings(rng, out, n=50)
        documents(rng, out, n=200, files=1)
        events(rng, out)
    else:
        stats = {"documents": documents(rng, out), "embeddings": embeddings(rng, out)}
    return stats
