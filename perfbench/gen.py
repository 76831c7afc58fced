"""Seeded input generator for the stream workload.

`write_stream` is a pure function of its seed and size arguments: the same
seed gives byte-identical files (JSON lines are written in a fixed order).
The registry workload reads the engine's documented test tables, copied
unchanged under `perfbench/data/`, and needs no generator.
"""
import json
import os

import numpy as np

SCENES = ["635", "12771"]
# 15:00 UTC: the UTC+8 midnight (16:00 UTC) falls inside the run
STREAM_EPOCH_MS = 1704121200 * 1000  # 2024-01-01T15:00:00Z


def _action_line(rng, t_ms, n_users):
    return json.dumps({
        "sceneId": SCENES[int(rng.random() < 0.35)],
        "userId": str(int(rng.zipf(1.3)) % n_users),
        "itemId": str(int(rng.integers(0, 5000))),
        "action": "show" if rng.random() < 0.8 else "detailPageShow",
        "contextExist": "1" if rng.random() < 0.97 else "0",
        "actionTime": str(int(t_ms)),
    }, separators=(",", ":"))


def write_stream(out_dir, seed, steady_s, file_every_ms, rows_per_file,
                 burst_rows, burst_files, speedup, disorder_ms, late_every,
                 late_rows, late_by_ms, quiet_ms, n_users=20000,
                 trigger_ms=200, warm_files=4):
    """Stage the action-log files of one stream run plus the landing plan.

    Steady phase: a file every `file_every_ms` of wall time, its event
    times `speedup`× faster than wall time and up to `disorder_ms` out of
    order. Every `late_every`-th slot also stages a file whose rows are
    `late_by_ms` of event time behind; it lands only after the watermark
    has passed them. After `quiet_ms` of silence, `burst_files` files with
    `burst_rows` rows in all are due at once.
    """
    rng = np.random.default_rng(seed)
    staged = os.path.join(out_dir, "staged")
    warm = os.path.join(out_dir, "warm")
    for d in (staged, warm, os.path.join(out_dir, "watch")):
        os.makedirs(d, exist_ok=True)
    files = []

    def stage(name, lines, due_ms, late=False, burst=False, late_end=0):
        with open(os.path.join(staged, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        files.append({"name": name, "due_ms": int(due_ms), "late": late,
                      "burst": burst, "lines": len(lines),
                      "late_window_end_ms": int(late_end)})

    n_steady = int(steady_s * 1000 // file_every_ms)
    for i in range(n_steady):
        due = i * file_every_ms
        t_ms = STREAM_EPOCH_MS + due * speedup
        n = int(rng.poisson(rows_per_file))
        stage("a%05d.json" % i, [_action_line(
            rng, t_ms - int(rng.integers(0, disorder_ms)), n_users)
            for _ in range(n)], due)
        if late_every and i % late_every == late_every - 1:
            lt = t_ms - late_by_ms
            times = lt - rng.integers(0, 60000, late_rows)
            # the newest 5-minute window these rows fall in ends here
            end = (int(times.max()) // 300000 + 1) * 300000
            stage("l%05d.json" % i, [_action_line(rng, int(t), n_users)
                                     for t in times], due, late=True,
                  late_end=end)
    burst_due = n_steady * file_every_ms + quiet_ms
    t_ms = STREAM_EPOCH_MS + burst_due * speedup
    per = burst_rows // burst_files
    for b in range(burst_files):
        stage("b%05d.json" % b, [_action_line(
            rng, t_ms - int(rng.integers(0, disorder_ms)), n_users)
            for _ in range(per)], burst_due, burst=True)
    for k in range(warm_files):  # warm-up input: same shapes, own clock
        t0 = STREAM_EPOCH_MS - 86400000
        with open(os.path.join(warm, "w%02d.json" % k), "w") as f:
            f.write("\n".join(_action_line(rng, t0 + k * 60000 + j, n_users)
                              for j in range(rows_per_file)) + "\n")
    # directories are relative to the plan's own directory
    plan = {"staged_dir": "staged", "watch_dir": "watch",
            "warm_dir": "warm", "trigger_ms": trigger_ms, "scenes": SCENES,
            "speedup": speedup, "files": files}
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f, sort_keys=True)
    return plan
