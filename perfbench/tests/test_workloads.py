import unittest

import workloads


def catalog():
    cat = {}
    for mod, n in (("streamline.batch.Aggregates", 69), ("streamline.batch.Joins", 22),
                   ("streamline.batch.UdfSurface", 2), ("streamline.stream.OffsetReplay", 2),
                   ("streamline.stream.Streams", 40), ("streamline.llm.Text", 36),
                   ("streamline.llm.Vocab", 3)):
        for i in range(n):
            cat[f"q_{mod.rsplit('.', 1)[1].lower()}_{i}"] = mod
    cat["q_stream_dedup"] = "streamline.llm.Dedup"
    return cat


class PoolTest(unittest.TestCase):
    def test_pools(self):
        self.assertEqual(workloads.pool_of("q_x", "streamline.stream.Streams"), "stream")
        self.assertEqual(workloads.pool_of("q_x", "streamline.stream.OffsetReplay"), "batch")
        self.assertEqual(workloads.pool_of("q_stream_x", "streamline.llm.Dedup"), "stream")
        self.assertEqual(workloads.pool_of("q_x", "streamline.llm.Dedup"), "llm")
        self.assertEqual(workloads.pool_of("q_x", "streamline.batch.Joins"), "batch")


class DrawTest(unittest.TestCase):
    def test_shares_follow_module_size(self):
        # quotas of 10 over 69/22/2/2 queries: 7.26, 2.32, 0.21, 0.21
        picked = workloads.draw(catalog(), ("batch",), 10)
        mods = [catalog()[n] for n in picked]
        self.assertEqual(len(picked), 10)
        self.assertEqual(mods.count("streamline.batch.Aggregates"), 7)
        self.assertEqual(mods.count("streamline.batch.Joins"), 3)

    def test_pool_members_only(self):
        picked = workloads.draw(catalog(), ("stream",), 5)
        self.assertIn("q_stream_dedup", catalog())
        for n in picked:
            self.assertEqual(workloads.pool_of(n, catalog()[n]), "stream")

    def test_deterministic(self):
        a = workloads.draw(catalog(), ("llm",), 10)
        b = workloads.draw(dict(reversed(list(catalog().items()))), ("llm",), 10)
        self.assertEqual(a, b)

    def test_ineligible_names_are_skipped(self):
        banned = set(workloads.draw(catalog(), ("llm",), 10))
        picked = workloads.draw(catalog(), ("llm",), 10, lambda n: n not in banned)
        self.assertEqual(len(picked), 10)
        self.assertFalse(banned & set(picked))


class ScheduleTest(unittest.TestCase):
    def test_schedule_is_seeded(self):
        o1 = workloads.schedule("batch_short", 7, 2)
        cold = workloads.WORKLOADS["batch_short"]["cold"]
        self.assertEqual(len(o1), cold + 2)  # the untimed warm passes, then two timed passes
        self.assertEqual(o1, workloads.schedule("batch_short", 7, 2))
        self.assertNotEqual(o1, workloads.schedule("batch_short", 8, 2))
        self.assertNotEqual(o1[0], o1[1])
        for order in o1:
            self.assertEqual(sorted(order), sorted(workloads.WORKLOADS["batch_short"]["queries"]))

    def test_passes(self):
        pass_s = workloads.WORKLOADS["batch_short"]["pass_s"]
        self.assertEqual(workloads.passes(2 * pass_s, "batch_short"), 2)
        self.assertEqual(workloads.passes(3.2 * pass_s, "batch_short"), 3)
        self.assertEqual(workloads.passes(0.1, "batch_short"), 1)

    def test_samples_are_pool_members(self):
        module = {"batch": "streamline.batch.X", "llm": "streamline.llm.X",
                  "stream": "streamline.stream.X"}
        for w, spec in workloads.WORKLOADS.items():
            for n in spec["queries"] + spec["warmup"]:
                pools = {workloads.pool_of(n, module[p]) for p in spec["pools"]}
                self.assertTrue(pools & set(spec["pools"]), n)
            self.assertFalse(set(spec["queries"]) & set(spec["warmup"]), w)


if __name__ == "__main__":
    unittest.main()
