"""Harness self-tests: `python3 perfbench/run.py --selftest`.

- The same seed gives the same op sequence, the same envelope bytes and
  the same corpus versions; another seed gives others.
- The percentile helper reports its sample count and refuses a
  percentile with fewer than ten samples beyond it.
- An injected applier stall shows up in freshness, and an injected
  generator stall in generator lateness (and, since freshness is measured
  from when an event was due, in freshness too).
"""
import argparse
import hashlib
import shutil
import sys
import unittest
from pathlib import Path

import stats

BENCH = Path(__file__).resolve().parent
WORK = BENCH.parent / ".bench_work" / "selftest"


def _digest(root):
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*.parquet")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()


class Offline(unittest.TestCase):
    def test_percentile_counts_and_refuses(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(stats.percentile(xs, 0.5), (50.0, 100))
        self.assertEqual(stats.percentile(xs, 0.9), (90.0, 100))
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(xs[:99], 0.9)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(xs[:19], 0.5)
        self.assertEqual(stats.percentile(xs[:20], 0.5), (10.0, 20))
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile([], 0.5)

    def test_failures_rank_slowest(self):
        xs = [0.1] * 15 + [float("inf")] * 10
        self.assertEqual(stats.percentile(xs, 0.5), (0.1, 25))

    def test_same_seed_same_plan(self):
        import run
        for w in ("olap_mix", "curation_refresh"):
            self.assertEqual(run.plan(w, 7, 10), run.plan(w, 7, 10))
            self.assertNotEqual(run.plan(w, 7, 10), run.plan(w, 8, 10))

    def test_same_seed_same_inputs(self):
        import gen
        digests = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = WORK / tag
            shutil.rmtree(d, ignore_errors=True)
            gen.write_inputs(d / "data", 0.001, seed, 200, 100, versions=(d / "versions", 3))
            digests[tag] = (_digest(d / "data"), _digest(d / "versions"))
        self.assertEqual(digests["a"], digests["b"])
        self.assertNotEqual(digests["a"][0], digests["c"][0])
        self.assertNotEqual(digests["a"][1], digests["c"][1])


def jvm_checks(build):
    """The checks that need the engine: envelope bytes and stalls."""
    import subprocess
    import run
    cp = build()
    failures = []
    # envelope bytes: the same seed twice, and another seed
    r = subprocess.run(["java", "-cp", cp, *sum((["--add-opens", f"{p}=ALL-UNNAMED"]
                                                  for p in run.ADD_OPENS), []),
                        "graftbench.SelfTest", str(WORK / "envelopes")],
                       capture_output=True, text=True, timeout=300)
    print(r.stdout.strip())
    if r.returncode != 0:
        failures.append("envelope determinism: " + (r.stdout + r.stderr)[-800:])
    # stalls: a baseline, then an applier that stalls 8 s in its second
    # batch, then a generator that stops for 6 s at chunk 600 (3 s in, at
    # 5 ms chunks). The stalls are long against the baseline's own
    # run-to-run noise, which reached 2 s on a busy host.
    out = {}
    for tag, stall in (("base", []), ("applier", ["--stall", "applier:1:8000"]),
                       ("gen", ["--stall", "gen:600:6000"])):
        a = argparse.Namespace(workload="cdc_ingest", seed=11, seconds=15, trace=0)
        work = WORK / f"stall-{tag}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        res, _ = run.run_jvm(cp, a, work, ["--setups", "1", "--warmup", "0", *stall])
        fresh, _ = run.freshness(res["cdc"])
        late = [(ch[4] - ch[3]) / 1e6 for ch in res["cdc"]["chunks"]]
        in_gen_stall = [f for due, f in fresh if 3.0 <= due < 6.0]
        out[tag] = (max(f for _, f in fresh), max(late), sum(in_gen_stall) / len(in_gen_stall))
        print(f"stall {tag:8s} freshness max {out[tag][0]:.3f} s, generator late max "
              f"{out[tag][1]:.1f} ms, mean freshness of events due 3-6 s {out[tag][2]:.3f} s")
    if not out["applier"][0] > out["base"][0] + 4.0:
        failures.append(f"applier stall not visible in freshness: {out}")
    if not out["gen"][1] > out["base"][1] + 5000 or not out["gen"][2] > out["base"][2] + 2.0:
        failures.append(f"generator stall not visible in lateness and freshness: {out}")
    return failures


def main(build):
    WORK.mkdir(parents=True, exist_ok=True)
    suite = unittest.defaultTestLoader.loadTestsFromTestCase(Offline)
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    failures = jvm_checks(build)
    for f in failures:
        print(f"FAIL {f}")
    shutil.rmtree(WORK, ignore_errors=True)
    ok = ok and not failures
    print("selftest " + ("ok" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.path.insert(0, str(BENCH))
    import run
    sys.exit(main(run.build))
