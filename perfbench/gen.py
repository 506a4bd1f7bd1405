"""Seeded input generator for the perfbench workloads.

Single-process, independent of the engine under test: numpy draws the
rows, pyarrow writes CSV / JSON-lines / parquet, and the expected answer
of every op is computed here with DuckDB or plain Python. The engine only
ever sees the generated files; the harness compares its outputs against
`expected.json`.

    python3 perfbench/gen.py --workload cli_files --seed 1 --scale tiny --dir out/
"""
import argparse
import itertools
import json
import os
import time
import zlib

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Rows per input at each scale. `bench` is what BENCHMARK.json runs;
# `tiny` keeps the smoke test fast.
SCALES = {
    "bench": {"taxi_rows": 200_000, "recent_rows": 2_000,
              "events": 40_000, "event_files": 6, "users": 2_000,
              "docs": 1_200, "doc_tokens": 100, "clusters": 60},
    "tiny": {"taxi_rows": 3_000, "recent_rows": 200,
             "events": 3_000, "event_files": 3, "users": 100,
             "docs": 150, "doc_tokens": 60, "clusters": 8},
}

BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island", "EWR"]

# ---- cli_files ----------------------------------------------------------

# The dialect queries run through graft.Cli.execute, with the output
# format each is rendered in and the files it reads. The first is the
# reference's published flagship shape (CSV scan + group-by). Four of the
# seven scan the big CSV, so the median op is one of those and does not
# fall between two groups of very different latency.
CLI_QUERIES = [
    {"name": "flagship_groupby", "output": "live_table", "reads": ["taxi.csv"],
     "sql": "SELECT passenger_count, COUNT(*) AS n, AVG(total_amount) AS avg_total "
            "FROM taxi.csv GROUP BY passenger_count"},
    {"name": "csv_filter", "output": "csv", "reads": ["taxi.csv"],
     "sql": "SELECT VendorID, PULocationID, DOLocationID, total_amount "
            "FROM taxi.csv WHERE trip_distance > 6.0"},
    {"name": "parquet_filter", "output": "json", "reads": ["taxi.parquet"],
     "sql": "SELECT PULocationID, fare_amount, tip_amount "
            "FROM taxi.parquet WHERE tip_amount > 3.0"},
    {"name": "csv_json_join", "output": "csv", "reads": ["taxi.csv", "zones.json"],
     "sql": "SELECT z.Borough, COUNT(*) AS n, SUM(t.total_amount) AS total "
            "FROM taxi.csv t JOIN zones.json z ON t.PULocationID = z.LocationID "
            "GROUP BY z.Borough"},
    {"name": "csv_filter_json", "output": "json", "reads": ["taxi.csv"],
     "sql": "SELECT PULocationID, DOLocationID, fare_amount "
            "FROM taxi.csv WHERE fare_amount > 18.0"},
    {"name": "small_order_limit", "output": "live_table", "reads": ["recent.csv"],
     "sql": "SELECT id, total_amount, trip_distance FROM recent.csv "
            "ORDER BY total_amount DESC, id LIMIT 10"},
    {"name": "small_json_limit", "output": "json", "reads": ["zones.json"],
     "sql": "SELECT LocationID, Zone FROM zones.json WHERE Borough = 'Queens' "
            "ORDER BY LocationID DESC LIMIT 5"},
]

# The same questions in DuckDB over the same files: the independent
# reference. `ordered` answers are compared row by row, the rest as bags.
CLI_ORACLE = {
    "flagship_groupby": ("SELECT passenger_count, COUNT(*), AVG(total_amount) "
                         "FROM taxi GROUP BY passenger_count", False),
    "csv_filter": ("SELECT VendorID, PULocationID, DOLocationID, total_amount "
                   "FROM taxi WHERE trip_distance > 6.0", False),
    "parquet_filter": ("SELECT PULocationID, fare_amount, tip_amount "
                       "FROM taxi WHERE tip_amount > 3.0", False),
    "csv_json_join": ("SELECT z.Borough, COUNT(*), SUM(t.total_amount) FROM taxi t "
                      "JOIN zones z ON t.PULocationID = z.LocationID GROUP BY z.Borough",
                      False),
    "csv_filter_json": ("SELECT PULocationID, DOLocationID, fare_amount "
                        "FROM taxi WHERE fare_amount > 18.0", False),
    "small_order_limit": ("SELECT id, total_amount, trip_distance FROM recent "
                          "ORDER BY total_amount DESC, id LIMIT 10", True),
    "small_json_limit": ("SELECT LocationID, Zone FROM zones WHERE Borough = 'Queens' "
                         "ORDER BY LocationID DESC LIMIT 5", True),
}


def taxi_table(rng, n):
    dist = np.round(np.clip(rng.lognormal(0.6, 0.8, n), 0.1, 60.0), 2)
    fare = np.round(2.5 + 2.5 * dist + rng.uniform(0, 3, n), 2)
    pay = rng.choice([1, 2, 3, 4], n, p=[0.70, 0.26, 0.02, 0.02])
    tip = np.where(pay == 1, np.round(fare * rng.uniform(0, 0.3, n), 2), 0.0)
    # skewed pickup zones, like the real trip log
    zone_w = 1.0 / np.arange(1, 266) ** 0.8
    pu = rng.choice(np.arange(1, 266), n, p=zone_w / zone_w.sum())
    secs = rng.integers(0, 30 * 86400, n)
    pickup = (np.datetime64("2021-04-01T00:00:00") + secs.astype("timedelta64[s]"))
    return pa.table({
        "VendorID": rng.choice([1, 2], n, p=[0.3, 0.7]),
        "tpep_pickup_datetime": pa.array(np.datetime_as_string(pickup).astype(object))
            .cast(pa.string()),
        "passenger_count": rng.choice(np.arange(7), n,
                                      p=[0.02, 0.70, 0.15, 0.05, 0.03, 0.03, 0.02]),
        "trip_distance": dist,
        "RatecodeID": rng.choice([1, 2, 3, 4, 5], n, p=[0.9, 0.04, 0.02, 0.02, 0.02]),
        "PULocationID": pu,
        "DOLocationID": rng.integers(1, 266, n),
        "payment_type": pay,
        "fare_amount": fare,
        "tip_amount": tip,
        "total_amount": np.round(fare + tip + 3.3, 2),
    })


def write_csv(table, path):
    pacsv.write_csv(table, path,
                    pacsv.WriteOptions(include_header=True, quoting_style="none"))


def gen_cli_files(rng, sc, d):
    taxi = taxi_table(rng, sc["taxi_rows"])
    # the CSV holds the timestamp as "YYYY-MM-DD HH:MM:SS" text
    taxi = taxi.set_column(1, "tpep_pickup_datetime",
                           pa.array([s.replace("T", " ") for s in
                                     taxi.column(1).to_pylist()]))
    write_csv(taxi, os.path.join(d, "taxi.csv"))
    pq.write_table(taxi, os.path.join(d, "taxi.parquet"))
    m = sc["recent_rows"]
    recent = taxi.slice(0, m).select(["total_amount", "trip_distance"])
    recent = recent.add_column(0, "id", pa.array(np.arange(1, m + 1)))
    write_csv(recent, os.path.join(d, "recent.csv"))
    boro = rng.choice(len(BOROUGHS), 265)
    with open(os.path.join(d, "zones.json"), "w") as f:
        for i in range(265):
            f.write(json.dumps({"LocationID": i + 1, "Borough": BOROUGHS[boro[i]],
                                "Zone": f"Zone{i + 1:03d}"}) + "\n")

    con = duckdb.connect()
    con.execute(f"CREATE VIEW taxi AS SELECT * FROM read_parquet('{d}/taxi.parquet')")
    con.execute(f"CREATE VIEW recent AS SELECT * FROM read_csv_auto('{d}/recent.csv')")
    con.execute(f"CREATE VIEW zones AS SELECT * FROM read_json_auto('{d}/zones.json')")
    rows = {"taxi.csv": taxi.num_rows, "taxi.parquet": taxi.num_rows,
            "recent.csv": m, "zones.json": 265}
    queries = []
    for q in CLI_QUERIES:
        oracle_sql, ordered = CLI_ORACLE[q["name"]]
        ans = [list(r) for r in con.execute(oracle_sql).fetchall()]
        queries.append(dict(q, ordered=ordered, expected=ans,
                            input_rows=sum(rows[f] for f in q["reads"])))
    return {"queries": queries, "input_rows": rows}


# ---- stream_drain -------------------------------------------------------

# Event times are whole multiples of 7 ms and the session gap and join
# bound are not, so no two events are exactly a gap or a bound apart,
# where boundary conventions could differ. The durations are those of
# the runner calls in scala/graftbench/Workloads.scala.
TICK_MS = 7
TUMBLE_MS = 60_000
SESSION_GAP_MS = 300_000
JOIN_WITHIN_MS = 600_000


def gen_stream_drain(rng, sc, d):
    n, users = sc["events"], sc["users"]
    # Zipf-skewed user keys
    w = 1.0 / np.arange(1, users + 1) ** 1.1
    user = rng.choice(np.arange(1, users + 1), n, p=w / w.sum())
    kind = rng.choice(["view", "click", "purchase"], n, p=[0.6, 0.3, 0.1])
    # arrival order advances ~2 s per event; event time trails arrival by
    # a bounded jitter (out-of-orderness), and ~0.1 % arrive 2 h late
    base_ms = 1_617_235_200_000  # 2021-04-01T00:00:00Z
    arrival = np.cumsum(rng.integers(1, 4000, n))
    jitter = rng.integers(0, 30_000, n)
    late = rng.random(n) < 0.001
    t = arrival - jitter - np.where(late, 7_200_000, 0)
    ts_ms = base_ms + (t // TICK_MS) * TICK_MS
    events = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": user.astype(np.int64),
        "event_type": kind,
        "ts": pa.array(ts_ms * 1000, pa.timestamp("us", tz="UTC")),
        "amount": np.round(rng.uniform(1, 200, n), 2),
    })
    ev_dir = os.path.join(d, "events")
    os.makedirs(ev_dir)
    bounds = np.linspace(0, n, sc["event_files"] + 1).astype(int)
    for i in range(sc["event_files"]):
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(ev_dir, f"part-{i:03d}.parquet"))
    tiers = rng.choice(["free", "plus", "pro"], users, p=[0.7, 0.2, 0.1])
    pq.write_table(pa.table({"uid": np.arange(1, users + 1, dtype=np.int64),
                             "tier": tiers}),
                   os.path.join(d, "users.parquet"))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT event_id, user_id, event_type, amount, "
                f"epoch_ms(ts) AS t FROM read_parquet('{ev_dir}/*.parquet')")
    con.execute(f"CREATE VIEW users AS SELECT * FROM read_parquet('{d}/users.parquet')")
    q = lambda s: [list(r) for r in con.execute(s).fetchall()]
    # columns are named as the runner returns them; times are epoch ms
    expected = {
        "tumbling_agg": {"columns": ["event_type", "window_start", "n", "amt"], "rows": q(
            f"SELECT event_type, (t // {TUMBLE_MS}) * {TUMBLE_MS} AS ws, COUNT(*), "
            f"SUM(amount) FROM ev GROUP BY 1, 2")},
        # a session closes when the next event of the key is a gap or
        # more after the latest event seen so far
        "session_agg": {"columns": ["user_id", "session_start", "session_end", "n", "amt"],
                        "rows": q(f"""
            WITH o AS (SELECT user_id, t, amount, MAX(t) OVER (PARTITION BY user_id
                         ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
                       FROM ev),
                 s AS (SELECT *, SUM(CASE WHEN prev IS NULL OR t - prev >= {SESSION_GAP_MS}
                                          THEN 1 ELSE 0 END)
                                 OVER (PARTITION BY user_id ORDER BY t
                                       ROWS UNBOUNDED PRECEDING) AS sid FROM o)
            SELECT user_id, MIN(t), MAX(t) + {SESSION_GAP_MS}, COUNT(*), SUM(amount)
            FROM s GROUP BY user_id, sid""")},
        "interval_join": {"columns": ["left_id", "right_id", "k"], "rows": q(f"""
            SELECT l.event_id, r.event_id, l.user_id FROM ev l JOIN ev r
            ON l.user_id = r.user_id AND r.t >= l.t AND r.t <= l.t + {JOIN_WITHIN_MS}
            WHERE l.event_type = 'click' AND r.event_type = 'purchase'""")},
        "streaming_dedup": {"columns": ["user_id", "event_type"], "rows": q(
            "SELECT DISTINCT user_id, event_type FROM ev")},
        "static_enrich": {"columns": ["tier", "n", "amt"], "rows": q(
            "SELECT u.tier, COUNT(*), SUM(e.amount) FROM ev e "
            "JOIN users u ON e.user_id = u.uid GROUP BY u.tier")},
    }
    return {"runners": expected, "input_rows": {"events": n, "users": users},
            "late_events": int(late.sum())}


# ---- dedup_corpus -------------------------------------------------------

SHINGLE_N = 3
THRESHOLD = 0.8
BOILERPLATE = "all rights reserved terms of use privacy policy contact us today"


def shingles(text):
    """Distinct word 3-grams, exactly as Dedup.tokenShingles defines them."""
    toks = text.strip().split()
    if len(toks) < SHINGLE_N:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def gen_dedup_corpus(rng, sc, d):
    n, L = sc["docs"], sc["doc_tokens"]
    vocab = np.array([f"w{i:05d}" for i in range(20_000)])
    texts = [None] * n
    planted = []
    # planted clusters: a base doc plus 1-3 copies with one word
    # substitution each (Jaccard 0.88-0.97)
    ids = rng.permutation(n)
    pos = 0
    for _ in range(sc["clusters"]):
        size = int(rng.integers(2, 5))
        members = sorted(int(x) for x in ids[pos:pos + size])
        pos += size
        base = list(rng.choice(vocab, L))
        for j, m in enumerate(members):
            toks = list(base)
            if j > 0:
                toks[int(rng.integers(L))] = str(rng.choice(vocab))
            texts[m] = toks
        planted.append(members)
    for m in ids[pos:]:
        texts[int(m)] = list(rng.choice(vocab, L))
    # boilerplate in ~15 % of docs (all copies of a cluster alike): its
    # shingles exceed the doc-frequency cap, so the cap binds
    boiler = rng.random(n) < 0.15
    for m in planted:
        boiler[m] = boiler[m[0]]
    docs = []
    for i in range(n):
        t = " ".join(texts[i]) + (" " + BOILERPLATE if boiler[i] else "")
        docs.append(t)
    cap = max(5, int(0.05 * n))
    pq.write_table(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": docs,
        "n_chars": np.array([len(t) for t in docs], dtype=np.int64),
    }), os.path.join(d, "docs.parquet"))

    # exact reference: capped shingle sets, inverted index, all sharing pairs
    sh = [shingles(t) for t in docs]
    post = {}
    for i, s in enumerate(sh):
        for g in s:
            post.setdefault(g, []).append(i)
    hot = {g for g, ps in post.items() if len(ps) > cap}
    capped = [s - hot for s in sh]
    common = {}
    for g, ps in post.items():
        if g in hot:
            continue
        for a, b in itertools.combinations(ps, 2):
            common[(a, b)] = common.get((a, b), 0) + 1
    pairs = []
    for (a, b), c in common.items():
        j = c / (len(capped[a]) + len(capped[b]) - c)
        if j >= THRESHOLD:
            pairs.append([a, b, j])
    pairs.sort()
    planted_pairs = sorted([a, b] for m in planted for a, b in itertools.combinations(m, 2))
    # the corpus is only valid if its near-duplicates are exactly the planted ones
    assert [p[:2] for p in pairs] == planted_pairs, "planted clusters not recovered"
    # components: min id per cluster; canonical doc: longest, then smallest id
    comp = {}
    for m in planted:
        for x in m:
            comp[x] = m[0]
    clusters = {}
    for i in range(n):
        clusters.setdefault(comp.get(i, i), []).append(i)
    lengths = [len(t) for t in docs]
    canonical = []
    for members in clusters.values():
        keep = min(members, key=lambda x: (-lengths[x], x))
        canonical.append([keep, len(members), lengths[keep]])
    canonical.sort()
    return {"exact_pairs": pairs, "components": sorted([k, v] for k, v in comp.items()),
            "canonical": canonical, "cap": cap, "hot_shingles": len(hot),
            "threshold": THRESHOLD, "shingle_n": SHINGLE_N,
            "input_rows": {"docs": n}}


GENERATORS = {"cli_files": gen_cli_files, "stream_drain": gen_stream_drain,
              "dedup_corpus": gen_dedup_corpus}
# workloads that share another workload's inputs
INPUTS_OF = {"dedup_exact": "dedup_corpus"}


def generate(workload, seed, scale, d):
    """Write the workload's inputs and `expected.json` under `d`; return
    the generation record (time, row counts, file sizes)."""
    t0 = time.perf_counter()
    kind = INPUTS_OF.get(workload, workload)
    rng = np.random.default_rng([seed, zlib.crc32(kind.encode())])
    os.makedirs(d, exist_ok=True)
    expected = GENERATORS[kind](rng, SCALES[scale], d)
    expected.update(workload=workload, seed=seed, scale=scale)
    with open(os.path.join(d, "expected.json"), "w") as f:
        json.dump(expected, f)
    sizes = {}
    for root, _, files in os.walk(d):
        for name in files:
            if name != "expected.json":
                p = os.path.join(root, name)
                sizes[os.path.relpath(p, d)] = os.path.getsize(p)
    return {"gen_s": time.perf_counter() - t0, "input_rows": expected["input_rows"],
            "file_bytes": sizes}


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(GENERATORS) + sorted(INPUTS_OF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", default="bench", choices=sorted(SCALES))
    ap.add_argument("--dir", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.scale, a.dir)))
