#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic (no JVM needed):

    python3 perfbench/selftest.py

- the stream generator is deterministic: same seed, byte-identical files;
- stream latency attribution is right on a synthetic progress log;
- each output checker fails on a deliberately perturbed output.
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


STREAM = dict(steady_s=0.5, file_every_ms=100, rows_per_file=20,
              burst_rows=200, burst_files=2, speedup=600,
              disorder_ms=300000, late_every=2, late_rows=5,
              late_by_ms=90 * 60000, quiet_ms=100)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _twice(self, make):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        for d, seed in ((a, 7), (b, 7), (c, 8)):
            os.makedirs(d)
            make(d, seed)
        self.assertEqual(_digest(a), _digest(b))
        self.assertNotEqual(_digest(a), _digest(c))

    def test_stream_deterministic(self):
        self._twice(lambda d, s: gen.write_stream(d, s, **STREAM))

    def test_stream_late_rows_are_behind_their_window_end(self):
        plan = gen.write_stream(self.tmp, 3, **STREAM)
        late = [f for f in plan["files"] if f["late"]]
        self.assertTrue(late)
        for f in late:
            with open(os.path.join(self.tmp, plan["staged_dir"],
                                   f["name"])) as fh:
                ts = [int(json.loads(l)["actionTime"]) for l in fh]
            self.assertLess(max(ts), f["late_window_end_ms"])


class LatencyAttributionTest(unittest.TestCase):
    def test_synthetic_progress_log(self):
        def prog(b, start_ms, dur_ms):
            from datetime import datetime, timezone
            ts = datetime.fromtimestamp(start_ms / 1000, timezone.utc)
            return {"batchId": b, "timestamp":
                    ts.strftime("%Y-%m-%dT%H:%M:%S.") +
                    "%03dZ" % (start_ms % 1000),
                    "durationMs": {"triggerExecution": dur_ms}}
        t0 = 1_700_000_000_000
        progress = [prog(0, t0, 1000), prog(1, t0 + 1000, 2000),
                    prog(2, t0 + 3000, 500)]
        landed = [
            {"name": "w", "due_ms": t0, "landed_ms": t0, "late": False,
             "burst": False, "lines": 5},          # warm-up batch 0
            {"name": "a", "due_ms": t0 + 500, "landed_ms": t0 + 600,
             "late": False, "burst": False, "lines": 5},   # batch 1 ends +3000
            {"name": "l", "due_ms": t0 + 700, "landed_ms": t0 + 2500,
             "late": True, "burst": False, "lines": 5},    # excluded
            {"name": "b", "due_ms": t0 + 2900, "landed_ms": t0 + 2950,
             "late": False, "burst": True, "lines": 100},  # batch 2 ends +3500
        ]
        file_batch = {"w": 0, "a": 1, "l": 2, "b": 2}
        lat, catchup, rows = run.stream_latencies(landed, progress,
                                                  file_batch, skip_batches=1)
        self.assertEqual(lat, [2.5])
        self.assertAlmostEqual(catchup, 0.55)
        self.assertEqual(rows, 100)


class CheckerTest(unittest.TestCase):
    def test_registry_check_rejects_perturbed_output(self):
        tmp = tempfile.mkdtemp()
        try:
            tables, out = os.path.join(tmp, "t"), os.path.join(tmp, "c")
            os.makedirs(tables)
            os.makedirs(os.path.join(out, "q"))
            df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
            df.to_parquet(os.path.join(tables, "region.parquet"))
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"q": "SELECT k, v FROM region"}, f)

            def verdict(got, counts=(3,)):
                got.to_parquet(os.path.join(out, "q", "part-0.parquet"))
                res = checks.check_registry(os.path.dirname(HERE), tables,
                                            out, {"q": list(counts)})
                return all(ok for _, ok, _ in res)
            self.assertTrue(verdict(df.iloc[::-1]))
            bad = df.copy()
            bad.loc[1, "v"] = 1.5000001
            self.assertFalse(verdict(bad))
            self.assertFalse(verdict(df.iloc[:2], counts=(2,)))
            # a timed run that returned another row count than the dump
            self.assertFalse(verdict(df, counts=(3, 2)))
        finally:
            shutil.rmtree(tmp)

    def test_stream_check_rejects_counted_late_row(self):
        tmp = tempfile.mkdtemp()
        try:
            t = gen.STREAM_EPOCH_MS
            on = [json.dumps({"sceneId": "635", "userId": str(u),
                              "itemId": "1", "action": "show",
                              "contextExist": "1", "actionTime": str(t + u)})
                  for u in range(50)]
            late = [json.dumps({"sceneId": "635", "userId": "999",
                                "itemId": "1", "action": "show",
                                "contextExist": "1",
                                "actionTime": str(t - 3600000)})]
            os.makedirs(os.path.join(tmp, "watch"))
            for name, lines in (("a", on), ("l", late)):
                with open(os.path.join(tmp, "watch", name), "w") as f:
                    f.write("\n".join(lines) + "\n")
            landed = [{"name": "a", "late": False}, {"name": "l", "late": True}]
            rows = [{"key": k, "granularity": g, "window_start_ms": w,
                     "pv": pv, "uv": uv}
                    for (k, g, w), (pv, uv) in checks.stream_expected(
                        on, gen.SCENES).items()]

            def verdict(rows):
                d = os.path.join(tmp, "store", "coarse")
                shutil.rmtree(d, ignore_errors=True)
                os.makedirs(d)
                pd.DataFrame(rows).to_parquet(os.path.join(d, "p.parquet"))
                res = checks.check_stream(os.path.join(tmp, "store"),
                                          os.path.join(tmp, "watch"),
                                          landed, gen.SCENES)
                return all(ok for _, ok, _ in res)
            self.assertTrue(verdict(rows))
            # the late row counted into its (closed) window
            extra = rows + [{"key": "635:show", "granularity": "1h",
                             "window_start_ms": (t - 3600000) // 3600000
                             * 3600000, "pv": 1, "uv": 1}]
            self.assertFalse(verdict(extra))
            bumped = [dict(r, pv=r["pv"] + 1) if i == 0 else r
                      for i, r in enumerate(rows)]
            self.assertFalse(verdict(bumped))
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
