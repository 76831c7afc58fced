"""Output checks, run after the timed region. Each function returns a list
of (name, ok, detail) tuples; one tuple is one checked operation."""
import glob
import json
import os
import re
import subprocess
import sys

import pandas as pd


def check_registry(root, table_dir, check_dir, counted_rows):
    """Each query's dumped rows against its `SparkEntry.oracleSql` entry,
    by the repo's own oracle gate (`tools/check.py`, run unchanged on the
    dump directory), plus: every timed run returned as many rows as the
    dump holds."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        table_dir, check_dir] + sorted(counted_rows),
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|SKIP) (\S+?):? (.*)", line)
        if m:
            verdict[m.group(2)] = (m.group(1) == "PASS", m.group(3))
    res = []
    for q, counts in sorted(counted_rows.items()):
        ok, detail = verdict.get(q, (False, "not checked by tools/check.py"))
        files = glob.glob(os.path.join(check_dir, q, "*.parquet"))
        dumped = sum(len(pd.read_parquet(f)) for f in files)
        bad = sorted({n for n in counts if n != dumped})
        if ok and bad:
            ok, detail = False, f"timed runs gave {bad} rows, dump has {dumped}"
        res.append((q, ok, detail))
    return res


def stream_expected(lines, scenes):
    """Batch recompute of the dashboard over on-time action-log lines:
    {(key, granularity, window_start_ms): (pv, exact uv)}."""
    gran = [("5min", 300000, 0), ("15min", 900000, 0), ("1h", 3600000, 0),
            ("1d", 86400000, 8 * 3600000)]
    acc = {}
    for line in lines:
        r = json.loads(line)
        if r.get("contextExist") != "1" or r.get("userId") is None \
                or r.get("sceneId") not in scenes:
            continue
        t = int(float(r["actionTime"]))
        key = r["sceneId"] + ":" + r["action"]
        for name, g, off in gran:
            k = (key, name, t - (t + off) % g)
            pv, users = acc.get(k, (0, set()))
            users.add(r["userId"])
            acc[k] = (pv + 1, users)
    return {k: (pv, len(u)) for k, (pv, u) in acc.items()}


def check_stream(store_dir, landed_dir, landed, scenes, uv_tol=0.05):
    """Coarse PV exact against the on-time rows, UV within the HLL bound,
    and no window fed only by late rows."""
    lines = []
    for f in landed:
        if not f["late"]:
            with open(os.path.join(landed_dir, f["name"])) as fh:
                lines += [l for l in fh if l.strip()]
    want = stream_expected(lines, scenes)
    got_df = pd.read_parquet(os.path.join(store_dir, "coarse"))
    got = {(r.key, r.granularity, int(r.window_start_ms)): (int(r.pv), int(r.uv))
           for r in got_df.itertuples()}
    res = []
    extra = set(got) - set(want)
    missing = set(want) - set(got)
    res.append(("stream.windows", not extra and not missing,
                f"{len(extra)} extra, {len(missing)} missing of {len(want)}"))
    for k in sorted(set(got) & set(want)):
        (gpv, guv), (wpv, wuv) = got[k], want[k]
        ok = gpv == wpv and abs(guv - wuv) <= uv_tol * wuv
        res.append(("stream." + "/".join(map(str, k)), ok,
                    f"pv {gpv}/{wpv} uv {guv}/{wuv}"))
    return res
