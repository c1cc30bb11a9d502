"""Output checks for the graft benchmark, run after the timed window.

Each check restates the expected answer independently of graft: DuckDB SQL
for pit_training, curation_recipe and the stream's closed windows, and a
replay of the generator's own written values for online_serving lookups.
Every check returns (attempted, failed, notes).
"""
import json
import os

import duckdb
import pyarrow.parquet as pq

# pit_training: the three views of the workload, restated in SQL.
# last_amount: the latest event at or before the fact, null if older than
# the 12 h TTL; activity_24h: sum/count of events in [fact - 24 h, fact];
# profile: left join on user_id.
PIT_SQL = """
WITH f AS (SELECT * FROM read_parquet('{facts}')),
ev AS (SELECT * FROM read_parquet('{events}')),
last AS (SELECT f.fact_id, e.event_ts AS last_ts, e.amount AS last_amount
  FROM f ASOF LEFT JOIN ev e ON f.user_id = e.user_id AND f.event_timestamp >= e.event_ts),
win AS (SELECT f.fact_id, sum(e.amount) AS amount_sum_24h, count(e.amount) AS events_24h
  FROM f LEFT JOIN ev e ON f.user_id = e.user_id
    AND e.event_ts <= f.event_timestamp
    AND e.event_ts >= f.event_timestamp - INTERVAL 24 HOUR
  GROUP BY f.fact_id)
SELECT f.fact_id, f.user_id, epoch_us(f.event_timestamp) AS ts_us, f.label,
  CASE WHEN last.last_ts >= f.event_timestamp - INTERVAL 12 HOUR THEN last.last_amount END AS amount,
  CAST(win.amount_sum_24h AS BIGINT) AS amount_sum_24h, CAST(win.events_24h AS BIGINT) AS events_24h,
  p.segment, p.tier
FROM f JOIN last USING (fact_id) JOIN win USING (fact_id)
LEFT JOIN read_parquet('{profiles}') p ON p.user_id = f.user_id
ORDER BY fact_id
"""

PIT_OUT_SQL = """
SELECT fact_id, user_id, epoch_us(event_timestamp) AS ts_us, label, amount,
  CAST(amount_sum_24h AS BIGINT), CAST(events_24h AS BIGINT), segment, tier
FROM read_parquet('{out}/*.parquet') ORDER BY fact_id
"""


def _rows(con, sql):
    return con.execute(sql).fetchall()


def check_pit(inputs, info):
    con = duckdb.connect()
    failed, notes = 0, []
    for op in info["ops"]:
        facts = f"{inputs}/facts/set-{op['set']:03d}/*.parquet"
        want = _rows(con, PIT_SQL.format(facts=facts, events=f"{inputs}/events/*.parquet",
                                         profiles=f"{inputs}/profiles/*.parquet"))
        got = _rows(con, PIT_OUT_SQL.format(out=op["out"]))
        if got != want:
            failed += 1
            bad = next((w, g) for w, g in zip(want + [None], got + [None]) if w != g)
            notes.append(f"pit set {op['set']}: {len(got)} rows vs {len(want)}; first diff {bad}")
    return len(info["ops"]), failed, notes


def check_online(inputs, info):
    """Replay the op log against the generator's written values: a lookup
    must return, for each requested key, the row of the latest upsert that
    wrote it (or the preload)."""
    with open(info["log"]) as f:
        log = json.load(f)
    with open(f"{inputs}/mix.json") as f:
        mix = json.load(f)

    def rows(path):
        t = pq.read_table(path).to_pydict()
        ts = [int(x.timestamp() * 1_000_000) for x in t["updated_at"]]
        return {u: (u, s, fl, t_) for u, s, fl, t_ in zip(t["user_id"], t["score"], t["flag"], ts)}

    state = rows(f"{inputs}/base/part-0.parquet")
    attempted, failed, notes = 0, 0, []
    for e in log:
        if e["op"] == "U":
            state.update(rows(f"{inputs}/batches/b-{e['batch']:04d}.parquet"))
            continue
        attempted += 1
        keys = mix["lookups"][e["lookup"]]
        want = sorted(state[k] for k in keys)
        got = sorted(tuple(r) for r in e["rows"])
        if got != want:
            failed += 1
            notes.append(f"lookup {e['lookup']}: {len(got)} rows, "
                         f"{len(set(got) - set(want))} not the latest written")
    return attempted, failed, notes


def check_curation(inputs, info):
    """The recipe's kept docs and their split must equal the DuckDB
    restatement of the same recipe (graft's own registered q178 oracle SQL)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{inputs}/docs/*.parquet')")
    with open(info["sql"]) as f:
        sql = f.read()
    want = sorted(con.execute(f"SELECT doc_id, split FROM ({sql}) WHERE stage = 'kept'").fetchall())
    failed, notes = 0, []
    for out in info["ops"]:
        got = sorted(con.execute(f"SELECT doc_id, split FROM read_parquet('{out}/*.parquet')").fetchall())
        if got != want:
            failed += 1
            notes.append(f"{os.path.basename(out)}: {len(got)} kept vs {len(want)} expected")
    return len(info["ops"]), failed, notes


STREAM_SQL = """
WITH ev AS (SELECT * FROM read_parquet('{inputs}/*.parquet')),
w AS (SELECT user_id,
    epoch_us(event_ts) // ({win} * 1000000) * ({win} * 1000000) AS window_start_us,
    count(*) AS n_events, sum(value) AS value_sum, max(created_ms) AS last_created
  FROM ev GROUP BY ALL)
SELECT user_id, window_start_us, CAST(n_events AS BIGINT), CAST(value_sum AS BIGINT),
  CAST(last_created AS BIGINT)
FROM w WHERE window_start_us + {win} * 1000000 <= {wm_us} ORDER BY ALL
"""


def check_stream(inputs, info):
    """Every window the watermark closed is in the sink with the count, sum
    and last creation time DuckDB computes from the files the generator
    wrote, and is emitted exactly once: the rows the micro-batches handed to
    the sink (`emitted_rows`, counted by the query) equal the windows in it.
    The sink store keeps one row per window, so a second emission shows only
    in that count."""
    import datetime
    con = duckdb.connect()
    wm = datetime.datetime.fromisoformat(info["watermark"].replace("Z", "+00:00"))
    wm_us = int(wm.timestamp() * 1_000_000)
    want = _rows(con, STREAM_SQL.format(inputs=info["inputs"][0], win=info["window_seconds"],
                                        wm_us=wm_us))
    got = _rows(con, f"""SELECT user_id, epoch_us(window_start), n_events, value_sum, last_created
        FROM read_parquet('{info['windows']}/*.parquet') ORDER BY ALL""")
    ws, gs = set(want), set(got)
    repeats = abs(info["emitted_rows"] - len(got))
    failed = len(ws ^ gs) + repeats
    notes = [] if not failed else [f"stream: {len(ws - gs)} windows missing or wrong, "
                                   f"{len(gs - ws)} unexpected, {info['emitted_rows']} rows "
                                   f"emitted for {len(got)} windows"]
    return max(1, len(want)), min(failed, max(1, len(want))), notes


CHECKS = {"pit": check_pit, "online": check_online, "curation": check_curation,
          "stream": check_stream}


def run(inputs, info):
    return CHECKS[info["kind"]](inputs, info)
