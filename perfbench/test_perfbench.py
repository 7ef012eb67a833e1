"""Tests of the benchmark's pure helpers: python3 perfbench/test_perfbench.py"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


def _files(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class TailTest(unittest.TestCase):
    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100.0, 3.0))
        self.assertEqual(metrics.tail(list(range(39))), (100.0, 38))

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 41))), (75.0, 30))
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(metrics.tail(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(metrics.tail(list(range(1, 10001)))[0], 99.9)


class SkewTest(unittest.TestCase):
    def test_max_over_median(self):
        self.assertEqual(metrics.task_skew([10, 10, 40]), 4.0)
        self.assertEqual(metrics.task_skew([5]), 1.0)

    def test_no_tasks_and_zero_median(self):
        self.assertEqual(metrics.task_skew([]), 1.0)
        self.assertEqual(metrics.task_skew([0, 0, 3]), 3.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [{"id": 0, "parent": -1, "wall_s": 10.0},
                 {"id": 1, "parent": 0, "wall_s": 3.0},
                 {"id": 2, "parent": 0, "wall_s": 4.0},
                 {"id": 3, "parent": 2, "wall_s": 1.5}]
        self.assertEqual(metrics.self_times(spans), {0: 3.0, 1: 3.0, 2: 2.5, 3: 1.5})

    def test_layer_self_times_and_other_cover_the_op(self):
        spans = [{"id": 1, "parent": 0, "name": "crawl.phaseA", "wall_s": 2.0},
                 {"id": 2, "parent": 0, "name": "crawl.phaseB", "wall_s": 5.0},
                 {"id": 0, "parent": -1, "name": "op", "wall_s": 7.5},
                 # a warm-up call outside the timed loop is not averaged in
                 {"id": 3, "parent": -1, "name": "crawl.phaseA", "wall_s": 100.0}]
        for s in spans:
            s.update(exec_cpu_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0, task_ms=[],
                     codegen_compiles=0, planning_s=0.0)
        raw = {"spans": spans, "ops": [{"changed_rows": 1, "loaded_rows": 2,
                                        "output_bytes": 1e6}]}
        m = metrics.per_layer("catalog_daily", raw)
        covered = (m["crawl.phaseA.wall_s"][0] + m["crawl.phaseB.wall_s"][0] +
                   m["catalog_daily.other_s"][0])
        self.assertAlmostEqual(covered, 7.5)
        # every span of every workload is reported, 0 where it did not run
        self.assertEqual(m["dedup.near_dup.wall_s"][0], 0.0)
        n_spans = sum(len(v) for v in metrics.SPANS.values())
        n_extras = sum(len(v) for v in metrics.EXTRAS.values())
        self.assertEqual(len(m), n_spans * len(metrics.COUNTERS) + n_extras + len(metrics.SPANS))


class EndToEndTest(unittest.TestCase):
    def test_only_the_first_n_operations_count(self):
        ops = [{"index": i, "latency_s": lat, "cpu_s": 2 * lat, "wchar": 100 * (i + 1)}
               for i, lat in enumerate([2.0, 4.0, 3.0, 50.0])]
        raw = {"ops": ops, "reads_s": [0.5, 0.7, 0.6, 9.0], "peak_rss_mb": 1.0,
               "live_heap_mb": 1.0}
        m, info = metrics.end_to_end(raw, [10] * 4, [100] * 4, 1.0, 3)
        self.assertEqual(m["op_p50_s"][0], 3.0)
        self.assertEqual(m["op_tail_s"][0], 4.0)
        self.assertEqual(m["items_per_s"][0], 30 / 9.0)
        self.assertEqual(m["cpu_per_op_s"][0], 6.0)
        self.assertEqual(m["write_amp"][0], 600 / 300)
        self.assertEqual((info["ops"], info["ops_measured"], info["read_p50_s"]), (4, 3, 0.6))


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    def test_metric_names_and_units_match(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        raw = {"ops": [{"index": 0, "latency_s": 1.0, "cpu_s": 2.0, "wchar": 10,
                        "admitted": [1], "batch_docs": 2, "files_per_bucket_max": 1,
                        "index_bytes": 10}],
               "reads_s": [], "peak_rss_mb": 100.0, "live_heap_mb": 50.0, "spans": []}
        e2e, _ = metrics.end_to_end(raw, [5], [100], 3.0, 1)
        layer = metrics.per_layer("admission_loop", raw)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         {k: u for k, (_, u) in layer.items()})
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(metrics.SPANS))


class GeneratorTest(unittest.TestCase):
    def test_crawl_is_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            sa, ea = gen.crawl(7, a, 3, 20, 2, 0.3)
            sb, eb = gen.crawl(7, b, 3, 20, 2, 0.3)
            sc, _ = gen.crawl(8, c, 3, 20, 2, 0.3)
            self.assertEqual(_files(a), _files(b))
            self.assertEqual((sa, ea), (sb, eb))
            self.assertNotEqual(_files(a), _files(c))
            self.assertNotEqual(sa["sha256"], sc["sha256"])

    def test_documents_are_a_function_of_the_seed(self):
        self.assertEqual(gen.raw_corpus(3, 200), gen.raw_corpus(3, 200))
        self.assertNotEqual(gen.raw_corpus(3, 200)[0], gen.raw_corpus(4, 200)[0])
        kept = gen.raw_corpus(3, 200)[2]
        self.assertEqual(gen.batches(3, kept, 4, 8, 2, 2), gen.batches(3, kept, 4, 8, 2, 2))
        self.assertNotEqual(gen.batches(3, kept, 4, 8, 2, 2)[0],
                            gen.batches(5, kept, 4, 8, 2, 2)[0])
        self.assertEqual(gen.bench_docs(3), gen.bench_docs(3))
        self.assertEqual(gen.probes(3, 5), gen.probes(3, 5))
        self.assertNotEqual(gen.probes(3, 5), gen.probes(4, 5))

    def test_query_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            sa = gen.tables(7, a, orders=150, docs=20, vecs=20)
            sb = gen.tables(7, b, orders=150, docs=20, vecs=20)
            sc = gen.tables(8, c, orders=150, docs=20, vecs=20)
            self.assertEqual(_files(a), _files(b))
            self.assertEqual(sa, sb)
            self.assertNotEqual(sa["sha256"], sc["sha256"])
            self.assertEqual(sorted(_files(a)), sorted(f"{t}.parquet" for t in checks.TABLES))

    def test_recrawls_change_titles_but_not_first_day(self):
        with tempfile.TemporaryDirectory() as a:
            _, exp = gen.crawl(1, a, 4, 30, 2, 0.5)
        self.assertEqual(len(exp[3]), 4 * 30 * 2)
        recrawled = [w for w, (t, first) in exp[3].items() if not t.endswith(f"r{first}")]
        self.assertTrue(recrawled)
        self.assertTrue(all(exp[3][w][1] == exp[0][w][1] for w in exp[0]))

    def test_corpus_stats_reconcile_with_the_kept_docs(self):
        docs, want, kept = gen.raw_corpus(1, 1000)
        self.assertEqual(want["input"], want["kept"] + sum(want[k] for k in checks.DROPS))
        self.assertEqual(len(docs), want["input"])
        self.assertEqual(len(kept), want["kept"])


class ChecksCatchWrongOutput(unittest.TestCase):
    """The checks pass a correct output and catch a deliberately wrong one."""

    def test_catalog(self):
        with tempfile.TemporaryDirectory() as a:
            _, exp = gen.crawl(2, a, 3, 10, 2, 0.5)
        rows = [[f"w{w}", t, d] for w, (t, d) in exp[2].items()]
        ops = [{"index": d, "canonical_rows": len(exp[d]), "view_scored": len(exp[d])}
               for d in (1, 2)]
        raw = {"ops": ops, "final_day": 2, "final_rows": rows}
        self.assertEqual(checks.catalog_daily(raw, exp), (set(), []))
        stale = [list(r) for r in rows]
        stale[0][1] = "an older title"
        bad, _ = checks.catalog_daily(dict(raw, final_rows=stale), exp)
        self.assertEqual(bad, {2})
        ops[0]["view_scored"] -= 1
        bad, _ = checks.catalog_daily(raw, exp)
        self.assertEqual(bad, {1})

    def test_admission(self):
        _, stats, kept = gen.raw_corpus(1, 200)
        batches, admitted = gen.batches(1, kept, 3, 8, 2, 2)
        exp = {"stats": stats, "kept": len(kept), "admitted": admitted}
        ops = [{"index": b, "admitted": admitted[b]} for b in (1, 2)]
        raw = {"ops": ops, "warmup_admitted": admitted[0], "probe_rows": [10, 10],
               "curation_stats": dict(stats), "curated_rows": len(kept),
               "digest_rows": len(kept) + 3 * 8}
        self.assertEqual(checks.admission_loop(raw, exp), (set(), []))
        # a planted copy admitted (and indexed)
        copy_id = next(d["doc_id"] for d in batches[1] if d["doc_id"] not in admitted[1])
        ops[0]["admitted"] = sorted(admitted[1] + [copy_id])
        bad, _ = checks.admission_loop(dict(raw, digest_rows=raw["digest_rows"] + 1), exp)
        self.assertEqual(bad, {1})
        ops[0]["admitted"] = admitted[1]
        # an index that lost a delta
        bad, _ = checks.admission_loop(dict(raw, digest_rows=len(kept)), exp)
        self.assertEqual(bad, {2})
        # curation that missed a near copy
        missed = dict(stats, near_dup=stats["near_dup"] - 1, kept=stats["kept"] + 1)
        bad, msgs = checks.admission_loop(dict(raw, curation_stats=missed), exp)
        self.assertEqual((bad, len(msgs)), ({2}, 1))
        # an empty probe result
        bad, _ = checks.admission_loop(dict(raw, probe_rows=[10, 0]), exp)
        self.assertEqual(bad, {2})


class QueryCheckCatchesWrongOutput(unittest.TestCase):
    """The query check passes results equal to the oracle's and catches
    a wrong value, a wrong column and an empty rows-only result."""

    def test_queries(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            tables, results = os.path.join(d, "tables"), os.path.join(d, "results")
            gen.tables(1, tables, orders=150, docs=20, vecs=20)
            con = duckdb.connect()
            oracle = ("SELECT r_regionkey, count(*) AS n FROM nation JOIN region "
                      "ON n_regionkey = r_regionkey GROUP BY r_regionkey ORDER BY r_regionkey")

            def dump(name, sql):
                os.makedirs(os.path.join(results, name))
                con.sql(sql.replace("FROM nation", f"FROM '{tables}/nation.parquet' nation")
                        .replace("JOIN region", f"JOIN '{tables}/region.parquet' region")
                        ).write_parquet(os.path.join(results, name, "part-0.parquet"))

            dump("right", oracle)
            dump("wrong_value", oracle.replace("count(*)", "count(*) + 1"))
            dump("wrong_column", oracle.replace("AS n", "AS m"))
            dump("rows", oracle)
            dump("empty", oracle.replace("GROUP BY", "WHERE false GROUP BY"))
            qs = [{"name": n, "oracle": oracle} for n in ("right", "wrong_value", "wrong_column")]
            qs.append({"name": "right_bad_oracle", "oracle": "SELECT * FROM no_such_table"})
            dump("right_bad_oracle", oracle)
            qs += [{"name": n, "oracle": None} for n in ("rows", "empty")]
            raw = {"ops": [{"index": 4}], "queries": qs}
            bad, msgs = checks.queries(raw, results, tables)
            self.assertEqual(bad, {4})
            self.assertEqual([m.split(":")[0] for m in msgs],
                             ["query wrong_value", "query wrong_column",
                              "query right_bad_oracle", "query empty"])


if __name__ == "__main__":
    unittest.main()
