"""Tests of the benchmark itself, at a small seeded size.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Runs paper-batch and paper-stream traced on 3000 samples of one seed and
checks that both legs produce the same alert table row for row, that a
DuckDB recomputation of thresholds and alerts agrees with it, that every
output check passed, and that the traced layer self-times add up to the
untraced wall time (at the benchmark's own size). Also checks that the
benchmark fails without the program's sources.
"""
import argparse
import json
import math
import pathlib
import shutil
import subprocess
import sys
import unittest

import duckdb

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

SEED = 7
SAMPLES = 3000
WINDOW = 30
WEIGHTS = [0.2, 0.2, 0.2, 0.15, 0.15, 0.1]
STATS = ["mean", "median", "10th quantile", "mean of 10% smallest",
         "security measure 1", "security measure 2"]


def traced_run(workload, samples=SAMPLES):
    """A traced run; `samples` None keeps the benchmark's own size."""
    args = argparse.Namespace(workload=workload, seed=SEED, seconds=1, trace="1")
    extra = ["--samples", samples] if samples else []
    code, lines, work = run.run_jvm(args, 175, extra)
    return code, run.result_of(lines), work, lines


def alert_log(paths):
    """(windowId, stat, assetNo) -> value from alert-log part files."""
    out = {}
    for p in paths:
        for line in p.read_text().splitlines():
            count, rest = line[1:-1].split(",", 1)
            stat, asset, value = rest.rsplit(",", 2)
            out[(int(count), stat, int(asset))] = float(value)
    return out


def parse_samples(path):
    """The engine's parse contract: six comma-separated doubles (trailing
    empty fields dropped, as Java's String.split does), else the line is
    dropped; seq numbers the kept lines from 1."""
    rows = []
    for line in path.read_text().splitlines():
        parts = line.split(",")
        while parts and parts[-1] == "":
            parts.pop()
        if len(parts) != 6:
            continue
        try:
            rows.append([float(p) for p in parts])
        except ValueError:
            continue
    return rows


def series_csv(samples, path):
    with open(path, "w") as f:
        f.write("seq,assetNo,x\n")
        for i, a in enumerate(samples, start=1):
            overall = a[0] * WEIGHTS[0]
            for k in range(1, 6):
                overall = overall + a[k] * WEIGHTS[k]
            for k, x in enumerate(a + [overall]):
                f.write(f"{i},{k},{x!r}\n")


DUCK_SQL = f"""
WITH series AS (
  SELECT * FROM read_csv('{{csv}}', header = true,
    columns = {{{{'seq': 'BIGINT', 'assetNo': 'INTEGER', 'x': 'DOUBLE'}}}})),
pop AS (
  SELECT assetNo, count(*) AS n, avg(x) AS mean,
         quantile_cont(x, 0.5) AS median, quantile_cont(x, 0.1) AS q10
  FROM series GROUP BY assetNo),
ranked AS (
  SELECT assetNo, x, row_number() OVER (PARTITION BY assetNo ORDER BY x) AS r
  FROM series),
agg AS (
  SELECT p.assetNo,
         avg(CASE WHEN r.r <= p.n // 10 THEN r.x END) AS tail,
         avg(abs(r.x - p.mean)) AS mad,
         sum((2 * r.r - p.n - 1) * r.x) AS gsum
  FROM ranked r JOIN pop p USING (assetNo) GROUP BY p.assetNo),
thr AS (
  SELECT assetNo, 'mean' AS stat, mean AS thr FROM pop
  UNION ALL SELECT assetNo, 'median', median FROM pop
  UNION ALL SELECT assetNo, '10th quantile', q10 FROM pop
  UNION ALL SELECT assetNo, 'mean of 10% smallest', tail FROM agg
  UNION ALL SELECT assetNo, 'security measure 1', mean - mad / 2.0 FROM pop JOIN agg USING (assetNo)
  UNION ALL SELECT assetNo, 'security measure 2', 2 * gsum / (n * (n - 1))
    FROM pop JOIN agg USING (assetNo)),
win AS (
  SELECT assetNo, seq, row_number() OVER ww AS rn, list_sort(list(x) OVER wf) AS xs
  FROM series
  WINDOW ww AS (PARTITION BY assetNo ORDER BY seq),
         wf AS (PARTITION BY assetNo ORDER BY seq
                ROWS BETWEEN {WINDOW - 1} PRECEDING AND CURRENT ROW)),
meas AS (
  SELECT assetNo, seq,
    list_avg(xs) AS m_mean,
    (xs[{WINDOW // 2}] + xs[{WINDOW // 2 + 1}]) / 2.0 AS m_median,
    xs[{WINDOW // 10 + 1}] AS m_q10,
    (xs[1] + xs[2] + xs[3]) / {WINDOW // 10}.0 AS m_tail,
    list_avg(xs) - list_aggregate(list_transform(xs, x -> abs(list_avg(xs) - x)), 'sum') / {2 * WINDOW}.0 AS m_sm1,
    list_avg(xs) - list_aggregate(list_transform(xs, (x, i) -> (2 * i - {WINDOW + 1}) * x), 'sum') / {WINDOW * WINDOW}.0 AS m_sm2
  FROM win WHERE rn >= {WINDOW}),
unp AS (
  SELECT assetNo, seq, 'mean' AS stat, m_mean AS m FROM meas
  UNION ALL SELECT assetNo, seq, 'median', m_median FROM meas
  UNION ALL SELECT assetNo, seq, '10th quantile', m_q10 FROM meas
  UNION ALL SELECT assetNo, seq, 'mean of 10% smallest', m_tail FROM meas
  UNION ALL SELECT assetNo, seq, 'security measure 1', m_sm1 FROM meas
  UNION ALL SELECT assetNo, seq, 'security measure 2', m_sm2 FROM meas)
SELECT {{select}}
"""


class PaperWorkloadsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build.build()
        cls.batch = traced_run("paper-batch")
        cls.stream = traced_run("paper-stream")
        samples = parse_samples(cls.batch[2] / "samples.csv")
        cls.samples = samples
        cls.series = cls.batch[2] / "series.csv"
        series_csv(samples, cls.series)

    @classmethod
    def tearDownClass(cls):
        for r in (cls.batch, cls.stream):
            shutil.rmtree(r[2], ignore_errors=True)

    def duck(self, select):
        sql = DUCK_SQL.format(csv=self.series, select=select)
        return duckdb.sql(sql).fetchall()

    def test_runs_succeed_with_every_check_passing(self):
        for code, result, _, lines in (self.batch, self.stream):
            self.assertEqual(code, 0, "\n".join(lines[-20:]))
            self.assertIsNotNone(result)
            self.assertTrue(result["correct"], "\n".join(lines[-20:]))
            self.assertEqual(result["failed"], 0)

    def test_malformed_lines_are_dropped(self):
        self.assertEqual(len(self.samples), SAMPLES)
        m = self.batch[1]["metrics"]
        self.assertEqual(m["sources.dropped_lines"]["value"], 21)
        self.assertEqual(m["pipeline.windows"]["value"], 7 * (SAMPLES - WINDOW + 1))
        s = self.stream[1]["metrics"]
        self.assertEqual(s["streaming.fires"]["value"], 7 * (SAMPLES - WINDOW + 1))
        self.assertEqual(s["streaming.rows_in"]["value"], 7 * SAMPLES)

    def test_batch_and_stream_alert_tables_are_equal(self):
        batch = alert_log(sorted((self.batch[2] / "alert-log").glob("part-*")))
        stream = alert_log(sorted((self.stream[2] / "stream-log-u").glob("batch-*/part-*")))
        self.assertGreater(len(batch), 0)
        self.assertEqual(batch, stream)

    def test_thresholds_equal_duckdb(self):
        engine = {}
        for line in (self.batch[2] / "thresholds.csv").read_text().splitlines():
            stat, asset, thr = line.rsplit(",", 2)
            engine[(stat, int(asset))] = float(thr)
        duck = {(s, a): t for a, s, t in self.duck("assetNo, stat, thr FROM thr")}
        self.assertEqual(set(engine), set(duck))
        for k, t in duck.items():
            self.assertTrue(math.isclose(engine[k], t, rel_tol=1e-9, abs_tol=1e-15),
                            f"{k}: engine {engine[k]} duckdb {t}")

    def test_alerts_equal_duckdb_row_for_row(self):
        rows = self.duck("""u.seq, u.stat, u.assetNo, u.m FROM unp u
          JOIN thr t ON u.stat = t.stat AND u.assetNo = t.assetNo
          WHERE u.m < t.thr AND (t.thr - u.m) / (1.0 + t.thr) >= 0.01""")
        duck = {(s, st, a): m for s, st, a, m in rows}
        batch = alert_log(sorted((self.batch[2] / "alert-log").glob("part-*")))
        self.assertEqual(set(batch), set(duck))
        for k, v in duck.items():
            self.assertTrue(math.isclose(batch[k], v, rel_tol=1e-12, abs_tol=1e-15), k)


class SelfTimeTest(unittest.TestCase):
    """Traced layer self-times add up to the untraced wall time, at the
    benchmark's own size: at 3000 samples paper-batch's prefix decomposition
    summed to only 0.87 of the untraced job, whose fixed per-query costs
    (planning, code generation) the prefix runs pay ahead of the calls they
    are subtracted from."""

    def test_traced_self_times_sum_to_untraced_wall(self):
        build.build()
        for name in ("paper-batch", "paper-stream"):
            code, result, work, lines = traced_run(name, samples=None)
            shutil.rmtree(work, ignore_errors=True)
            self.assertEqual(code, 0, "\n".join(lines[-20:]))
            ratio = result["metrics"]["trace.self_sum_ratio"]["value"]
            self.assertTrue(0.9 <= ratio <= 1.1, f"{name}: {ratio}")


class EmptyCheckoutTest(unittest.TestCase):
    def test_fails_without_the_program(self):
        root = build.OUT / "empty-checkout"
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(HERE, root / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(build.ROOT / "BENCHMARK.json", root / "BENCHMARK.json")
        try:
            r = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "paper-batch",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=root, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertIsNone(run.result_of(r.stdout.splitlines()))
        finally:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
