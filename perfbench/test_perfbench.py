"""Tests of the benchmark's own code: generators, output checks, error
accounting and the metric lists.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import contextlib
import copy
import hashlib
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = {
    "daily_refresh": {},
    "geocode_backfill": {"n": 300},
    "corpus_curation": {"n": 600},
    "change_feed": {"keys": 200, "files": 3, "rows_per_file": 20},
}


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, root):
    out = os.path.join(root, f"{workload}-{seed}")
    gen.GENERATORS[workload](seed, out, **SMALL[workload])
    with open(os.path.join(out, "truth.json"), encoding="utf-8") as f:
        return out, json.load(f)


def write_parts(d, rows):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.json"), "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False) + "\n")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w in gen.GENERATORS:
                a, ta = generate(w, 1, os.path.join(tmp, "a"))
                b, tb = generate(w, 1, os.path.join(tmp, "b"))
                c, tc = generate(w, 2, os.path.join(tmp, "c"))
                self.assertEqual(tree_digest(a), tree_digest(b), w)
                self.assertEqual(ta, tb, w)
                self.assertNotEqual(tree_digest(a), tree_digest(c), w)
                self.assertNotEqual(ta, tc, w)

    def test_yesterday_is_seed_independent(self):
        with tempfile.TemporaryDirectory() as tmp:
            gen.gen_daily_yesterday(os.path.join(tmp, "a"))
            gen.gen_daily_yesterday(os.path.join(tmp, "b"))
            self.assertEqual(tree_digest(os.path.join(tmp, "a")),
                             tree_digest(os.path.join(tmp, "b")))


# ---- correct outputs, built from the ground truth, that the checks accept

def daily_output(out, truth):
    rows_by_county = {c: [] for c in truth["county_totals"]}
    counties = sorted(truth["county_totals"])
    for i, (cid, e) in enumerate(sorted(truth["sample"].items())):
        rows_by_county[counties[i % len(counties)]].append(dict(
            id=cid, has_quota=e["has_quota"], this_week=e["this_week"],
            in_4_weeks=e["in_4_weeks"], source="cache", matched_by="phone"))
    n = 0
    for c, rows in rows_by_county.items():
        while len(rows) < truth["county_totals"][c]:
            rows.append(dict(id=f"F{n}", has_quota=False, this_week=0, in_4_weeks=0,
                             source="fresh", matched_by=None))
            n += 1
    write_parts(os.path.join(out, "by_county"), [
        {"county": c, "total": len(r), "rows": r} for c, r in rows_by_county.items()])
    write_parts(os.path.join(out, "national"),
                [{"scope": "national", "total": truth["national_total"], "rows": []}])
    write_parts(os.path.join(out, "violations"),
                [{"rule": "in_4_weeks_minimum", "violations": truth["violations"]}])
    write_parts(os.path.join(out, "totals_mismatch"), [])
    for c, rows in rows_by_county.items():
        d = os.path.join(out, "csv", f"county={c}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-00000.csv"), "w", encoding="utf-8") as f:
            f.write('"id"\n' + "".join(f'"{r["id"]}"\n' for r in rows))


def geocode_output(out, truth):
    write_parts(os.path.join(out, "check"), [
        {"id": int(i), "resolution": "address", "expected_county": c, "county_ok": True,
         "lat": 23.0, "lng": 121.0} for i, c in sorted(truth["county"].items())])


def corpus_output(out, truth):
    kept = sorted(truth["singles"] + [g[0] for g in truth["exact"] + truth["near"]])
    cap, off, rows = truth["capacity"], 0, []
    for doc in kept:
        n = 50
        rows.append({"split": "train", "doc_id": doc, "n_tokens": n, "start_off": off,
                     "first_chunk": off // cap, "last_chunk": (off + n - 1) // cap,
                     "n_chunks": (off + n - 1) // cap - off // cap + 1})
        off += n
    write_parts(os.path.join(out, "check"), rows)


def change_feed_output(out, truth):
    write_parts(os.path.join(out, "check"), [
        {"key": int(k), "value": v, "seq": s} for k, (v, s) in truth["state"].items()])


OUTPUTS = {
    "daily_refresh": daily_output,
    "geocode_backfill": geocode_output,
    "corpus_curation": corpus_output,
    "change_feed": change_feed_output,
}


def rewrite(path, fn):
    rows = checks.read_parts(path)
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    write_parts(path, fn(rows))


def bump_first(field, by=1):
    def f(rows):
        rows = copy.deepcopy(rows)
        rows[0][field] += by
        return rows
    return f


CORRUPTIONS = {
    "daily_refresh": {
        "county total": ("by_county", bump_first("total")),
        "violations": ("violations", bump_first("violations")),
        "quota rule": ("by_county", lambda rows: [
            dict(c, rows=[dict(r, this_week=r["this_week"] + 1) for r in c["rows"]])
            for c in rows]),
        "carried from resolver": ("by_county", lambda rows: [
            dict(c, rows=[dict(r, source="fresh") for r in c["rows"]]) for c in rows]),
        "national": ("national", bump_first("total")),
    },
    "geocode_backfill": {
        "missing row": ("check", lambda rows: rows[1:]),
        "duplicate row": ("check", lambda rows: rows + rows[:1]),
        "wrong county": ("check", lambda rows: [dict(rows[0], expected_county="X")] + rows[1:]),
        "no level": ("check", lambda rows: [dict(rows[0], resolution=None)] + rows[1:]),
    },
    "corpus_curation": {
        "offset": ("check", bump_first("start_off", 7)),
        "duplicate survives": ("check", None),
        "leak survives": ("check", None),
        "unique dropped": ("check", lambda rows: rows[1:]),
    },
    "change_feed": {
        "stale value": ("check", bump_first("value")),
        "lost key": ("check", lambda rows: rows[1:]),
    },
}


class CheckTest(unittest.TestCase):
    def test_each_check_accepts_correct_and_rejects_corrupted_output(self):
        with tempfile.TemporaryDirectory() as tmp:
            for w, corruptions in CORRUPTIONS.items():
                _, truth = generate(w, 3, os.path.join(tmp, "in"))
                for name, (sub, fn) in corruptions.items():
                    out = os.path.join(tmp, "out", w, name.replace(" ", "_"))
                    OUTPUTS[w](out, truth)
                    self.assertEqual(checks.CHECKS[w](out, truth), [], f"{w}: clean")
                    if fn is None:   # corpus: re-admit a document the run must drop
                        extra = truth["near"][0][1] if name == "duplicate survives" \
                            else truth["leak"][0]
                        fn = lambda rows, d=extra: rows + [dict(
                            rows[-1], doc_id=d, start_off=rows[-1]["start_off"] + 50,
                            first_chunk=(rows[-1]["start_off"] + 50) // truth["capacity"],
                            last_chunk=(rows[-1]["start_off"] + 99) // truth["capacity"])]
                    rewrite(os.path.join(out, sub), fn)
                    self.assertNotEqual(checks.CHECKS[w](out, truth), [], f"{w}: {name}")


class AccountingTest(unittest.TestCase):
    def run_main(self, results, workload="geocode_backfill", trace=0):
        it = iter(results)
        with tempfile.TemporaryDirectory() as tmp:
            os.makedirs(os.path.join(tmp, "src", "main", "scala", "graft"))
            cwd = os.getcwd()
            os.chdir(tmp)
            try:
                with mock.patch.object(run, "build", return_value="classes"), \
                        mock.patch.object(run, "inputs", return_value=(tmp, 100)), \
                        mock.patch.object(run, "prepared", return_value=None), \
                        mock.patch.object(run, "rep", side_effect=lambda *a: next(it)), \
                        mock.patch.object(run, "jvm", return_value={"setup_s": 12.0}), \
                        contextlib.redirect_stdout(io.StringIO()) as out:
                    code = run.main(["--workload", workload, "--seed", "1",
                                     "--seconds", "0", "--trace", str(trace)])
            finally:
                os.chdir(cwd)
        return code, json.loads(out.getvalue().strip().splitlines()[-1])

    ok = {"setup_s": 10.0, "run_s": 2.0, "peak_rss_mb": 900.0, "latencies_s": [],
          "layers": {}}

    def test_clean_run_reports_every_end_to_end_metric(self):
        code, res = self.run_main([dict(self.ok)])
        self.assertEqual(code, 0)
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (True, 1, 0))
        self.assertEqual(sorted(res["metrics"]), sorted(run.END_TO_END))
        self.assertEqual(res["metrics"]["run_s"]["value"], 2.0)
        self.assertEqual(res["metrics"]["rows_per_s"]["value"], 50.0)
        # one set-up from the run, one from a set-up-only JVM
        self.assertEqual(res["metrics"]["setup_s"]["value"], 11.0)
        self.assertEqual(res["metrics"]["event_latency_p50_s"]["value"], 12.0)

    def test_a_run_that_throws_counts_as_failed(self):
        code, res = self.run_main([{"error": "java.lang.RuntimeException"}])
        self.assertEqual(code, 0)
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (False, 1, 1))

    def test_traced_run_reports_every_per_layer_metric(self):
        layers = {k: 1.0 for k in run.PER_LAYER}
        code, res = self.run_main([dict(self.ok), dict(
            self.ok, layers=layers, layers_again=dict(layers, resolver_calls=2.0))], trace=1)
        self.assertEqual(sorted(res["metrics"]), sorted(run.PER_LAYER))
        self.assertEqual(res["metrics"]["trace.nonexact_counts"]["value"], 1.0)

    def test_no_sources_exits_nonzero_without_a_result(self):
        with tempfile.TemporaryDirectory() as tmp:
            cwd = os.getcwd()
            os.chdir(tmp)
            try:
                with contextlib.redirect_stdout(io.StringIO()) as out, \
                        contextlib.redirect_stderr(io.StringIO()):
                    code = run.main(["--workload", "change_feed", "--seed", "1",
                                     "--seconds", "1", "--trace", "0"])
            finally:
                os.chdir(cwd)
        self.assertNotEqual(code, 0)
        self.assertEqual(out.getvalue(), "")


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_names_match_the_harness(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.PER_LAYER)
        self.assertTrue(set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS))
        self.assertLessEqual(len(run.PER_LAYER), 128)


if __name__ == "__main__":
    unittest.main()
