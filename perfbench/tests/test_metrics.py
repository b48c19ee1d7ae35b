import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v = metrics.tail_percentile(xs)
        self.assertEqual(p, 90)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))

    def test_small_samples_fall_back_to_median(self):
        p, v = metrics.tail_percentile([float(i) for i in range(1, 20)])
        self.assertEqual(p, 50)
        self.assertEqual(v, 10.0)

    def test_always_at_least_ten_beyond(self):
        for n in range(20, 300, 7):
            xs = list(range(n))
            p, v = metrics.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # and the next percentile up would leave fewer than ten
            if p < 99:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)


def span(kind, start, end, qid="q", id_=None, link=""):
    return dict(kind=kind, qid=qid, id=id_ or f"{kind}{start}", start_ms=start,
                end_ms=end, link=link)


class SpanTest(unittest.TestCase):
    def test_covered_merges_and_clips(self):
        self.assertEqual(metrics.covered([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.covered([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(metrics.covered([], 0, 100), 0)
        self.assertEqual(metrics.covered([(0, 10), (2, 3)], 0, 100), 10)

    def test_self_time(self):
        q = dict(qid="q", start_ms=0, build_ms=40, end_ms=100)
        spans = metrics.query_spans(q) + [
            span("sql", 45, 95, id_="1"),
            span("job", 50, 70, id_="job1", link="1"),
            span("job", 60, 90, id_="job2", link="1"),
            span("stage", 55, 65, id_="s1", link="job1"),
        ]
        metrics.link_parents(spans)
        selfs, escaped = metrics.self_times(spans)
        got = {s["id"]: t for s, t in zip(spans, selfs)}
        self.assertEqual(escaped, 0)
        self.assertEqual(got["q"], 0)            # build + result cover the query
        self.assertEqual(got["q/build"], 40)     # no children
        self.assertEqual(got["q/result"], 10)    # 60 minus the 50 ms SQL execution
        self.assertEqual(got["1"], 10)           # 50 minus jobs covering 50..90
        self.assertEqual(got["job1"], 10)        # 20 minus its 10 ms stage
        self.assertEqual(got["job2"], 30)

    def test_parents_by_containment(self):
        q = dict(qid="q", start_ms=0, build_ms=50, end_ms=100)
        spans = metrics.query_spans(q) + [
            span("batch", 10, 30),
            span("sql", 12, 20, id_="7"),
            span("job", 60, 80, id_="job3", link="99"),  # link to an unknown execution
        ]
        metrics.link_parents(spans)
        kinds = {s["id"]: spans[s["parent"]]["kind"] if s["parent"] is not None else None
                 for s in spans}
        self.assertEqual(kinds["batch10"], "entry.build")
        self.assertEqual(kinds["7"], "batch")
        self.assertEqual(kinds["job3"], "entry.result")
        self.assertIsNone(kinds["q"])

    def test_escaping_child_is_counted_and_clipped(self):
        spans = [span("query", 0, 10, id_="q"), span("entry.build", 5, 20, id_="b")]
        spans[0]["parent"] = None
        spans[1]["parent"] = 0
        selfs, escaped = metrics.self_times(spans)
        self.assertEqual(escaped, 1)
        self.assertEqual(selfs[0], 5)


def q(name, secs, phase="timed"):
    return dict(k="q", phase=phase, name=name, build_s=0.0, result_s=secs)


class EndToEndTest(unittest.TestCase):
    def test_per_query_medians(self):
        records = ([q("a", s) for s in (1.0, 5.0, 2.0)] + [q("b", s) for s in (3.0, 4.0, 3.5)]
                   + [q("c", s) for s in (0.5, 0.7, 0.6)] + [q("a", 99.0, "cold")]
                   + [dict(k="setup", s=s) for s in (9.0, 1.0, 2.0)]
                   + [dict(k="heap", mb=m) for m in (80.0, 70.0)])
        m, info = metrics.end_to_end(records)
        self.assertAlmostEqual(m["elapsed_s"][0], 2.0 + 3.5 + 0.6)  # the cold run is left out
        self.assertEqual(m["query_p50_s"][0], 2.0)
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertEqual(m["retained_heap_mb"][0], 70.0)
        self.assertEqual(info["latency_samples"], 9)


class StreamTest(unittest.TestCase):
    def test_stream_metrics(self):
        batches = [dict(trigger_ms=100, rows=10), dict(trigger_ms=300, rows=50),
                   dict(trigger_ms=20, rows=0)]
        p50, rate = metrics.stream_metrics(batches)
        self.assertEqual(p50, 100)
        self.assertEqual(rate, 60 / 0.4)


if __name__ == "__main__":
    unittest.main()
