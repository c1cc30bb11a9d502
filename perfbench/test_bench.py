"""Benchmark-local tests: the generator is deterministic per seed and sized
the same for every seed, and the output checks catch a planted wrong answer
or a repeated stream emission.

    python3 -m unittest perfbench/test_bench.py      (from the checkout root)
"""
import datetime
import hashlib
import json
import os
import shutil
import sys
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(ROOT, ".bench_build", "test-tmp")


def digest(path):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), path).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sizes(props):
    return {t: {k: v for k, v in p.items() if k in ("rows", "rows_per_op", "count", "files",
                                                    "rows_per_batch", "sets")}
            for t, p in props["tables"].items()}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_one_seed_gives_identical_inputs(self):
        for w in gen.WORKLOADS:
            a = gen.generate(w, 11, f"{TMP}/a-{w}")
            b = gen.generate(w, 11, f"{TMP}/b-{w}")
            self.assertEqual(a, b, w)
            self.assertEqual(digest(f"{TMP}/a-{w}"), digest(f"{TMP}/b-{w}"), w)

    def test_two_seeds_give_the_same_sizes(self):
        for w in gen.WORKLOADS:
            a = gen.generate(w, 11, f"{TMP}/a-{w}")
            b = gen.generate(w, 12, f"{TMP}/b-{w}")
            self.assertEqual(sizes(a), sizes(b), w)
            self.assertNotEqual(digest(f"{TMP}/a-{w}"), digest(f"{TMP}/b-{w}"), w)


class PlantedWrongAnswerTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_pit_check_catches_one_wrong_feature(self):
        inputs = f"{TMP}/pit"
        gen.generate("pit_training", 5, inputs)
        out = f"{TMP}/pit-out"
        os.makedirs(out)
        # a training set holding exactly the restated answer...
        sql = check.PIT_SQL.format(facts=f"{inputs}/facts/set-001/*.parquet",
                                   events=f"{inputs}/events/*.parquet",
                                   profiles=f"{inputs}/profiles/*.parquet")
        con = duckdb.connect()
        con.execute(f"""COPY (SELECT fact_id, user_id, make_timestamp(ts_us) AS event_timestamp,
            label, amount, amount_sum_24h, events_24h, segment, tier FROM ({sql}))
            TO '{out}/part-0.parquet' (FORMAT parquet)""")
        info = {"ops": [{"set": 1, "out": out}]}
        self.assertEqual(check.check_pit(inputs, info)[:2], (1, 0))
        # ...passes; with one feature value off by one it fails
        con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN fact_id = (SELECT min(fact_id)
              FROM read_parquet('{out}/part-0.parquet') WHERE events_24h > 0)
            THEN amount_sum_24h + 1 ELSE amount_sum_24h END AS amount_sum_24h)
            FROM read_parquet('{out}/part-0.parquet')) TO '{out}/tmp.parquet' (FORMAT parquet)""")
        os.replace(f"{out}/tmp.parquet", f"{out}/part-0.parquet")
        self.assertEqual(check.check_pit(inputs, info)[:2], (1, 1))

    def test_online_check_catches_a_stale_lookup(self):
        inputs = f"{TMP}/online"
        gen.generate("online_serving", 5, inputs)
        with open(f"{inputs}/mix.json") as f:
            keys = json.load(f)["lookups"][1]
        con = duckdb.connect()

        def latest(path_glob):
            return {r[0]: list(r) for r in con.execute(
                f"SELECT user_id, score, flag, epoch_us(updated_at) FROM read_parquet('{path_glob}')"
            ).fetchall()}
        state = latest(f"{inputs}/base/*.parquet")
        state.update(latest(f"{inputs}/batches/b-0001.parquet"))
        rows = [state[k] for k in keys]
        log = [{"op": "U", "batch": 1}, {"op": "L", "lookup": 1, "rows": rows}]
        path = f"{TMP}/log.json"
        with open(path, "w") as f:
            json.dump(log, f)
        self.assertEqual(check.check_online(inputs, {"log": path})[:2], (1, 0))
        # serve one key's value from before the upsert that rewrote it
        base = latest(f"{inputs}/base/*.parquet")
        touched = next(i for i, k in enumerate(keys) if state[k] != base[k])
        rows[touched] = base[keys[touched]]
        with open(path, "w") as f:
            json.dump(log, f)
        self.assertEqual(check.check_online(inputs, {"log": path})[:2], (1, 1))

    def test_stream_check_catches_a_repeated_emission(self):
        inputs = f"{TMP}/stream"
        gen.generate("stream_ingest", 5, inputs)
        con = duckdb.connect()
        os.makedirs(f"{TMP}/input")
        con.execute(f"""COPY (SELECT user_id, event_ts, value, 1000 + file_idx AS created_ms
            FROM read_parquet('{inputs}/stream_events/*.parquet') WHERE file_idx < 10)
            TO '{TMP}/input/ev.parquet' (FORMAT parquet)""")
        # the sink holding exactly the restated windows the watermark closed
        wm_us = gen.T0_US + 6 * gen.US_PER_S
        sql = check.STREAM_SQL.format(inputs=f"{TMP}/input", win=2, wm_us=wm_us)
        con.execute(f"""COPY (SELECT user_id, make_timestamp(window_start_us) AS window_start,
            n_events, value_sum, last_created FROM ({sql}) t(user_id, window_start_us, n_events,
            value_sum, last_created)) TO '{TMP}/windows.parquet' (FORMAT parquet)""")
        n = con.execute(f"SELECT count(*) FROM '{TMP}/windows.parquet'").fetchone()[0]
        os.makedirs(f"{TMP}/windows")
        os.replace(f"{TMP}/windows.parquet", f"{TMP}/windows/part-0.parquet")
        info = {"inputs": [f"{TMP}/input"], "windows": f"{TMP}/windows", "window_seconds": 2,
                "watermark": datetime.datetime.fromtimestamp(
                    wm_us / gen.US_PER_S, datetime.timezone.utc).isoformat(),
                "emitted_rows": n}
        self.assertEqual(check.check_stream(inputs, info)[:2], (n, 0))
        # one window handed to the sink twice: the store still holds one row
        self.assertEqual(check.check_stream(inputs, dict(info, emitted_rows=n + 1))[:2], (n, 1))
        # one window's sum off by one
        con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN row_number() OVER () = 1
            THEN value_sum + 1 ELSE value_sum END AS value_sum)
            FROM '{TMP}/windows/part-0.parquet') TO '{TMP}/w.parquet' (FORMAT parquet)""")
        os.replace(f"{TMP}/w.parquet", f"{TMP}/windows/part-0.parquet")
        self.assertEqual(check.check_stream(inputs, info)[0], n)
        self.assertGreater(check.check_stream(inputs, info)[1], 0)


if __name__ == "__main__":
    unittest.main()
