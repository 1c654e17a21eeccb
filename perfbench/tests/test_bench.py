"""Tests of the benchmark itself (no JVM needed):

    python3 -m unittest discover -s perfbench/tests

- the generator is a pure function of its seed;
- span self time and job-gap arithmetic;
- every metric BENCHMARK.json names is reported, with the unit it declares;
- the oracle check rejects a corrupted sink.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def read_dir(d):
    return {n: pq.read_table(os.path.join(d, f"{n}.parquet")) for n in gen.TABLES}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def path(self, *p):
        return os.path.join(self.tmp, *p)

    def test_same_seed_same_tables_other_seed_other_tables(self):
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            gen.gen_omm(self.path(name), seed, 3000)
        a, b, c = (read_dir(self.path(n)) for n in "abc")
        for t in gen.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)
        self.assertFalse(a["deviation_cases"].equals(c["deviation_cases"]))
        self.assertFalse(a["affected_departures"].equals(c["affected_departures"]))

    def test_text_batches_follow_the_seed(self):
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            gen.gen_text(self.path(name), seed, 2, 50, 10)
        f = "b1.parquet/part-00000.parquet"
        a, b, c = (pq.read_table(self.path(n, f)) for n in "abc")
        self.assertTrue(a.equals(b))
        self.assertFalse(a.equals(c))
        held = pq.read_table(self.path("a", "held.parquet")).column("id").to_numpy()
        self.assertTrue((held % 5 == 0).all())
        self.assertTrue((a.column("id").to_numpy() % 5 != 0).all())

    def test_churn_version_is_its_window(self):
        gen.gen_churn(self.path("v"), 9, 2000, 4, share=0.05)
        lo, hi = gen.churn_window(2000, 100, 3)
        gen.write_omm(self.path("w"), gen.omm_tables(9, np.arange(lo, hi), 100))
        got, want = read_dir(self.path("v", "v3")), read_dir(self.path("w"))
        for t in gen.TABLES:
            self.assertTrue(got[t].equals(want[t]), t)
        cases = got["deviation_cases"].column("deviation_case_id").to_numpy()
        self.assertEqual((cases.min(), cases.max()), (200, 2299))

    def test_proportions_follow_the_scale_probe(self):
        t = gen.omm_tables(3, np.arange(100_000))
        n = 100_000
        ad = t["affected_departures"].num_rows - n
        self.assertAlmostEqual(ad / n, 0.20, delta=0.01)
        dc = t["deviation_cases"]
        self.assertAlmostEqual(dc.column("valid_to").null_count / n, 0.10, delta=0.01)
        dvj = t["DatedVehicleJourney"]
        self.assertAlmostEqual(
            (n - dvj.column("IsReplacedById").null_count) / n, 0.01, delta=0.002)
        vjt = t["VehicleJourneyTemplate"]
        self.assertAlmostEqual(
            vjt.column("IsWorkedOnDirectionOfLineGid").null_count / n,
            0.005, delta=0.001)
        langs = t["bulletin_localized_messages"].column("language_code").to_pylist()
        self.assertEqual((langs.count("fi"), langs.count("sv")), (1000, 500))


def span(i, name, parent, start, end, poll=1):
    return {"id": i, "name": name, "parent": parent, "poll": poll,
            "start_us": start, "end_us": end}


class SpanArithmeticTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([(0, 5), (5, 8)]), 8)

    def test_self_time_subtracts_covered_part_once(self):
        parent = span(0, "poll", -1, 0, 100)
        kids = [span(1, "a", 0, 10, 40), span(2, "b", 0, 30, 60),
                span(3, "c", 0, 90, 120)]
        # children cover [10, 60) and [90, 100) of the parent: 60 of 100
        self.assertEqual(metrics.self_time(parent, kids), 40)
        self.assertEqual(metrics.self_time(parent, []), 100)

    def test_phase_figures_and_remainder_account_for_the_poll(self):
        trace = {
            "spans": [span(0, "poll", -1, 0, 1_000_000),
                      span(1, "load", 0, 0, 200_000),
                      span(2, "materialize", 0, 200_000, 900_000)],
            "jobs": [{"id": 0, "span": 2, "start_us": 300_000, "end_us": 500_000},
                     {"id": 1, "span": 2, "start_us": 400_000, "end_us": 700_000},
                     {"id": 2, "span": 1, "start_us": 50_000, "end_us": 100_000}],
            "stages": [{"id": 0, "span": 2, "attempts": 1, "task_ms": 1500,
                        "shuffle_bytes": 10, "out_bytes": 0, "rows": 7},
                       {"id": 1, "span": 1, "attempts": 1, "task_ms": 20,
                        "shuffle_bytes": 0, "out_bytes": 3, "rows": 2}]}
        st = metrics.span_stats(trace)
        mat, load, poll = st[2], st[1], st[0]
        self.assertAlmostEqual(mat["wall_s"], 0.7)
        self.assertAlmostEqual(mat["gap_s"], 0.3)   # jobs cover 0.4 of 0.7 s
        self.assertEqual((mat["jobs"], mat["task_s"], mat["rows"]), (2, 1.5, 7))
        self.assertAlmostEqual(load["gap_s"], 0.15)
        self.assertEqual(poll["jobs"], 3)
        self.assertEqual(poll["stages"], 2)
        self.assertAlmostEqual(poll["self_s"], 0.1)
        self.assertAlmostEqual(
            load["self_s"] + mat["self_s"] + poll["self_s"], poll["wall_s"])


def fake_record(traced):
    polls = [{"kind": "cold", "k": 0, "setup": 0, "ok": True, "wall_s": 9.0}]
    for k in range(1, 5):
        kind = "traced" if traced and k % 2 == 0 else "warm"
        polls.append({"kind": kind, "k": k, "setup": 0, "ok": True,
                      "wall_s": 4.0 + k / 10, "new_keys": 5, "repeated_keys": 95,
                      "cpu_s": 9.0, "gc_s": 0.1, "jit_s": 4.0 + k})
    trace = None
    if traced:
        trace = {"spans": [], "jobs": [], "stages": []}
        for k in (2, 4):
            base = k * 10_000_000
            pid = len(trace["spans"])
            trace["spans"].append(span(pid, "poll", -1, base, base + 4_000_000, k))
            t = base
            for name in metrics.OMM_PHASES:
                trace["spans"].append(span(len(trace["spans"]), name, pid, t,
                                           t + 500_000, k))
                t += 600_000
    return {"cpus": 4, "shuffle_partitions": 4, "setups_s": [20.0, 5.0, 5.5],
            "main_setup": 0, "heap_live_mb": [200.0, 250.5, 240.0],
            "polls": polls, "trace": trace, "finish": {}}


class ReportTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def check(self, traced, declared):
        lines, res = metrics.result(fake_record(traced), {}, traced, 3)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float))
            self.assertIn(f"  {m['name']} = {got['value']} {m['unit']}", lines)
        json.dumps(res)
        return lines, res

    def test_untraced_run_reports_every_end_to_end_metric(self):
        lines, res = self.check(False, self.bench["end_to_end"])
        self.assertEqual(res["metrics"]["poll_p50_s"]["value"], 4.25)
        self.assertEqual(res["metrics"]["setup_s"]["value"], 5.5)
        self.assertEqual(res["metrics"]["heap_live_peak_mb"]["value"], 250.5)
        self.assertTrue(any("poll_error_rate = 0.0 ratio" in s for s in lines))

    def test_heap_peak_counts_a_fixed_number_of_polls(self):
        rec = fake_record(False)
        rec["heap_live_mb"] += [300.0, 310.0]
        heap = metrics.end_to_end(rec, 0, 5, 2)["heap_live_peak_mb"]
        self.assertEqual(heap, 250.5)

    def test_traced_run_reports_every_per_layer_metric(self):
        _, res = self.check(True, self.bench["per_layer"])
        m = res["metrics"]
        self.assertAlmostEqual(m["poll.self_s"]["value"], 4.0 - 6 * 0.5)
        self.assertAlmostEqual(m["trace.overhead_s"]["value"], 4.3 - 4.2)
        self.assertAlmostEqual(m["poll.jit_s"]["value"], 7.0)

    def test_oracle_mismatch_fails_the_poll(self):
        _, res = metrics.result(fake_record(False), {3: ["1 rows missing"]}, False, 3)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertAlmostEqual(res["metrics"]["poll_success_rate"]["value"], 0.8)


def _varint(v):
    v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            return bytes(out)


def encode(payload):
    """TripCancellation wire bytes for a payload tuple in oracle.PAYLOAD order."""
    out = bytearray()
    for i, v in enumerate(payload, start=1):
        if v is None:
            continue
        if i in (1, 3, 6, 7):
            if i == 6:
                v = {"RUNNING": 1, "CANCELED": 2}[v]
            out += _varint(i << 3) + _varint(v)
        else:
            b = v.encode()
            out += _varint(i << 3 | 2) + _varint(len(b)) + b
    return bytes(out)


class OracleTest(unittest.TestCase):
    """A sink built from the oracle's own rows passes the check; each kind of
    corruption of a copy of it fails."""

    NOW = "2024-05-15 12:00:30"

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.tables = os.path.join(cls.tmp, "tables")
        gen.gen_omm(cls.tables, 4, 400)
        con = oracle.connect()
        rows = con.execute(
            "SELECT trip_id, event_ts_ms, deviation_case_id, route_name, direction,"
            " operating_day, start_time, status, 1, trip_id, dc_type, ad_type,"
            " title, description, category, sub_category FROM (" +
            oracle.dedup_sql(cls.tables, cls.NOW, cls.NOW[:10],
                             run.lookback(cls.NOW), run.ZONE) + ")").fetchall()
        con.close()
        assert len(rows) > 200
        cls.rows = rows

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def sink(self, rows, name):
        payload_t = pa.struct([(f, t) for f, t in zip(oracle.PAYLOAD, [
            pa.int64(), pa.string(), pa.int32(), pa.string(), pa.string(),
            pa.string(), pa.int32(), pa.string(), pa.string(), pa.string(),
            pa.string(), pa.string(), pa.string(), pa.string()])])
        payloads = [dict(zip(oracle.PAYLOAD, r[2:])) for r in rows]
        table = pa.table({
            "key": [r[0] for r in rows],
            "event_time_ms": pa.array([r[1] for r in rows], pa.int64()),
            "properties": pa.array(
                [[("dvj-id", r[0]), ("protobuf-schema", "TripCancellation")]
                 for r in rows], pa.map_(pa.string(), pa.string())),
            "payload": pa.array(payloads, payload_t),
            "value": pa.array([encode(r[2:]) for r in rows], pa.binary()),
            "poll_time": [self.NOW] * len(rows),
        })
        d = os.path.join(self.tmp, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        return d

    def problems(self, rows, name, sent=None, new=None):
        poll = {"now": self.NOW, "sent": len(rows) if sent is None else sent,
                "new_keys": len({r[0] for r in self.rows}) if new is None else new,
                "repeated_keys": 0}
        con = oracle.connect()
        try:
            return oracle.check_poll(con, poll, self.tables, None,
                                     self.sink(rows, name), run.ZONE, run.lookback)
        finally:
            con.close()

    def test_exact_copy_passes(self):
        self.assertEqual(self.problems(self.rows, "ok"), [])

    def test_changed_payload_field_fails(self):
        rows = [list(r) for r in self.rows]
        rows[7][7] = "RUNNING" if rows[7][7] == "CANCELED" else "CANCELED"
        self.assertTrue(self.problems([tuple(r) for r in rows], "status"))

    def test_dropped_row_fails(self):
        self.assertTrue(self.problems(self.rows[1:], "dropped", sent=len(self.rows)))

    def test_duplicated_row_fails(self):
        self.assertTrue(self.problems(self.rows + self.rows[:1], "dup",
                                      sent=len(self.rows)))

    def test_protobuf_value_disagreeing_with_payload_fails(self):
        rows = list(self.rows)
        name = os.path.join(self.tmp, "proto")
        good = self.sink(rows, "proto")
        t = pq.read_table(os.path.join(good, "part-00000.parquet"))
        vals = t.column("value").to_pylist()
        r = list(rows[3][2:])
        r[1] = "Route 99999"
        vals[3] = encode(r)
        t = t.set_column(t.schema.get_field_index("value"), "value",
                         pa.array(vals, pa.binary()))
        pq.write_table(t, os.path.join(name, "part-00000.parquet"))
        poll = {"now": self.NOW, "sent": len(rows),
                "new_keys": len({x[0] for x in rows}), "repeated_keys": 0}
        con = oracle.connect()
        got = oracle.check_poll(con, poll, self.tables, None, name, run.ZONE,
                                run.lookback)
        con.close()
        self.assertEqual(got, ["1 protobuf values differ from their payload"])

    def test_wrong_key_counts_fail(self):
        self.assertTrue(self.problems(self.rows, "counts", new=1))


if __name__ == "__main__":
    unittest.main()
