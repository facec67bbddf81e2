"""The benchmark's own tests.

    python3 -m pytest perfbench/tests          (or: python3 -m unittest discover perfbench/tests)

The fast tests need only Python (numpy, pyarrow, pandas, duckdb) and the
repository's tools/check_oracle.py. The end-to-end test builds the engine and
runs every workload traced and untraced; it is skipped unless PERFBENCH_E2E=1.
"""
import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def tree_digest(d: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(d.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(d)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def small_corpus(seed, d):
    gen.docs_corpus(seed, d, n_files=12, total_mb=0.3, vocab_size=800)


class GeneratorTest(unittest.TestCase):
    def test_docs_corpus_is_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = Path(t, "a"), Path(t, "b"), Path(t, "c")
            small_corpus(7, a)
            small_corpus(7, b)
            small_corpus(8, c)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = Path(t, "a"), Path(t, "b"), Path(t, "c")
            gen.tables(7, a, sf=0.001)
            gen.tables(7, b, sf=0.001)
            gen.tables(8, c, sf=0.001)
            self.assertEqual((a / "DATA_HASH").read_text(), (b / "DATA_HASH").read_text())
            self.assertNotEqual((a / "DATA_HASH").read_text(), (c / "DATA_HASH").read_text())

    def test_tables_keep_referential_integrity(self):
        import duckdb
        with tempfile.TemporaryDirectory() as t:
            gen.tables(3, Path(t), sf=0.001)
            con = duckdb.connect()
            for name in oracle.TABLES:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/{name}.parquet')")
            for child, key, parent, pkey in [
                    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
                    ("lineitem", "l_partkey", "part", "p_partkey"),
                    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
                    ("orders", "o_custkey", "customer", "c_custkey"),
                    ("customer", "c_nationkey", "nation", "n_nationkey"),
                    ("nation", "n_regionkey", "region", "r_regionkey")]:
                orphans = con.execute(
                    f"SELECT count(*) FROM {child} WHERE {key} NOT IN (SELECT {pkey} FROM {parent})"
                ).fetchone()[0]
                self.assertEqual(orphans, 0, f"{child}.{key}")

    def test_expected_docs_outputs_follow_the_task_definitions(self):
        """Recompute every expected output straight from the files."""
        with tempfile.TemporaryDirectory() as t:
            d = Path(t)
            small_corpus(11, d)
            n = int((d / "NUM_FILES").read_text())
            texts = [(d / f"{i}.txt").read_text() for i in range(n)]
            corpus = "".join(texts)
            letters = sum(c.isascii() and c.isalpha() for c in corpus)
            digits = sum(c.isascii() and c.isdigit() for c in corpus)
            counts = {}
            for w in re.split(r"[ \t\n\x0b\f\r]+", corpus):
                if w:
                    counts[w] = counts.get(w, 0) + 1
            t3 = sum(len(x) % 49 for x in texts)
            want = {
                "mr_read": f"{n} {len(corpus)} {n * (n - 1) // 2}",
                "mr_task1": f"letters {letters}\nnumbers {digits}\n"
                            f"others {len(corpus) - letters - digits}\n",
                "mr_task2": "".join(f"{ch} {corpus.lower().count(ch)}\n"
                                    for ch in "abcdefghijklmnopqrstuvwxyz"),
                "mr_task3": "".join(f"{k} {t3}\n" for k in ["3210", "cs", "love", "we"]),
                "mr_wordcount": "".join(f"{k} {v}\n" for k, v in sorted(counts.items())),
            }
            for op, body in want.items():
                self.assertEqual((d / "expected" / f"{op}.txt").read_text(), body, op)


def docs_result(d: Path, out: Path):
    """A harness result whose every output is the expected one."""
    ops = []
    for op in run.WORKLOADS["mapreduce_docs"][1]:
        for pas in ("cold", "warm1"):
            want = (d / "expected" / f"{op}.txt").read_bytes()
            r = {"op": op, "pass": pas, "plan_s": 0.1, "exec_s": 0.2, "error": None,
                 "digest": "", "value": ""}
            if op == "mr_read":
                r["value"] = want.decode()
            else:
                o = out / pas / op
                o.mkdir(parents=True)
                (o / "part-00000-x.txt").write_bytes(want[: len(want) // 2])
                (o / "part-00001-x.txt").write_bytes(want[len(want) // 2:])
                r["value"] = str(o)
            ops.append(r)
    return {"ops": ops}


class NegativeControlTest(unittest.TestCase):
    def test_corrupted_expected_docs_output_fails_that_operation(self):
        with tempfile.TemporaryDirectory() as t:
            d, out = Path(t, "data"), Path(t, "out")
            small_corpus(5, d)
            res = docs_result(d, out)
            self.assertEqual(run.check("docs", res, d, out, Path(t, "cache")), {})
            exp = d / "expected" / "mr_task2.txt"
            exp.write_bytes(exp.read_bytes().replace(b"a ", b"a 1", 1))
            fails = run.check("docs", res, d, out, Path(t, "cache"))
            self.assertEqual(sorted(fails), [("mr_task2", "cold"), ("mr_task2", "warm1")])

    def test_corrupted_oracle_answer_fails_that_query(self):
        import duckdb
        import pandas as pd
        with tempfile.TemporaryDirectory() as t:
            d, out, cache = Path(t, "data"), Path(t, "out"), Path(t, "cache")
            gen.tables(5, d, sf=0.001)
            sqls = {"by_region": "SELECT n_regionkey AS r, count(*) AS c FROM nation GROUP BY 1",
                    "segments": "SELECT c_mktsegment AS s, sum(c_acctbal) AS b FROM customer GROUP BY 1"}
            # engine-side results as the harness writes them: one parquet
            # directory per query, here holding DuckDB's own answer
            con = duckdb.connect()
            for name in oracle.TABLES:
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/{name}.parquet')")
            ops = []
            for op, sql in sqls.items():
                (out / "cold" / op).mkdir(parents=True)
                con.execute(sql).fetchdf().to_parquet(out / "cold" / op / "part-00000.parquet")
                for pas in ("cold", "warm1"):
                    ops.append({"op": op, "pass": pas, "plan_s": 0.1, "exec_s": 0.1,
                                "error": None, "digest": "d-" + op, "value": ""})
            res = {"ops": ops, "oracle_sql": sqls}
            self.assertEqual(run.check("tables", res, d, out, cache), {})
            # corrupt the cached DuckDB answer for one query
            answers = cache / (d / "DATA_HASH").read_text()
            self.assertEqual(len(list(answers.glob("*.pkl"))), 2)
            f = answers / f"{oracle._sha(sqls['segments'])[:24]}.pkl"
            df = pd.read_pickle(f)
            df.loc[0, "b"] += 1.0
            df.to_pickle(f)
            fails = run.check("tables", res, d, out, cache)
            self.assertEqual(sorted(fails), [("segments", "cold"), ("segments", "warm1")])
            # a warm result that differs from the cold one fails on its own
            ops[1]["digest"] = "other"
            self.assertIn(("by_region", "warm1"), run.check("tables", res, d, out, cache))


def fake_result(workload, trace):
    passes = [{"pass": "cold", "traced": bool(trace), "seconds": 3.0},
              {"pass": "warm1", "traced": False, "seconds": 2.0}]
    if trace:
        passes.append({"pass": "warm2", "traced": True, "seconds": 2.1})
    ops = [{"op": op, "pass": p["pass"], "plan_s": 0.1, "exec_s": 0.2, "error": None,
            "digest": "", "value": ""}
           for p in passes for op in run.WORKLOADS[workload][1]]
    layer = [m for m in run.PER_LAYER_UNITS if not m.startswith("op.")]
    metrics = {"peak_rss_mb": 1000.0, **({m: 1.0 for m in layer} if trace else {})}
    return {"cores": 4, "passes": passes, "ops": ops, "metrics": metrics}


class BuildStampTest(unittest.TestCase):
    def test_rewritten_class_files_invalidate_the_build(self):
        """Another compile in the checkout rewrites the class files the stamp
        points at; the fingerprint must change so that sbt runs again."""
        with tempfile.TemporaryDirectory() as t:
            classes = Path(t, "classes")
            (classes / "graft").mkdir(parents=True)
            f = classes / "graft" / "A.class"
            f.write_bytes(b"change")
            cp = os.pathsep.join([str(classes), str(Path(t, "x.jar"))])
            before = run._outputs_fingerprint(cp)
            self.assertEqual(run._outputs_fingerprint(cp), before)
            f.write_bytes(b"parent")
            os.utime(f, ns=(1, 1))
            self.assertNotEqual(run._outputs_fingerprint(cp), before)


class MetricSetTest(unittest.TestCase):
    def test_benchmark_json_names_exactly_the_reported_metrics(self):
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["end_to_end"]], run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["per_layer"]}, run.PER_LAYER_UNITS)
        self.assertEqual([w["name"] for w in SPEC["workloads"]], list(run.WORKLOADS))

    def test_every_metric_is_reported_with_its_unit_on_every_workload(self):
        for w in run.WORKLOADS:
            for trace, spec in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                metrics, units = run.assemble(fake_result(w, trace), 9.0, trace)
                self.assertEqual(set(metrics), {m["name"] for m in spec}, (w, trace))
                self.assertEqual(units, {m["name"]: m["unit"] for m in spec})

    def test_warm_time_is_the_median_of_the_warm_passes(self):
        res = fake_result("corpus_index", 0)
        res["passes"] += [{"pass": "warm2", "traced": False, "seconds": 9.0},
                          {"pass": "warm3", "traced": False, "seconds": 2.2}]
        metrics, _ = run.assemble(res, 9.0, 0)
        self.assertEqual(metrics["warm_s"], 2.2)
        self.assertEqual(metrics["cold_s"], 3.0)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1 to run")
class EndToEndTest(unittest.TestCase):
    def test_each_workload_reports_every_metric_and_passes_its_checks(self):
        for w in run.WORKLOADS:
            for trace, spec in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                p = subprocess.run(
                    [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", "977",
                     "--seconds", "1", "--trace", str(trace)],
                    cwd=BENCH.parent, capture_output=True, text=True, timeout=900)
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                last = json.loads(p.stdout.strip().splitlines()[-1])
                self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(last["correct"], p.stdout[-2000:])
                self.assertEqual({k: v["unit"] for k, v in last["metrics"].items()},
                                 {m["name"]: m["unit"] for m in spec})


if __name__ == "__main__":
    unittest.main()
