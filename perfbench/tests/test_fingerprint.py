import os
import subprocess
import tempfile
import unittest

import build


class FingerprintTest(unittest.TestCase):
    """Runs perfbench.FingerprintCheck (harness/FingerprintCheck.scala):
    null, NaN, -0.0, array, struct and map canonicalization, row-order
    insensitivity. Needs the repository sources and Spark's jars."""

    def test_canonicalization(self):
        root = os.getcwd()
        if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
            self.skipTest("run from the repository root")
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        classes = build.build(root, build_dir)
        with tempfile.TemporaryDirectory() as tmp:
            r = subprocess.run(
                ["java", "-Xmx1g", f"-Djava.io.tmpdir={tmp}"] + build.JVM_OPENS +
                ["-cp", build.classpath(classes), "perfbench.FingerprintCheck"],
                cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("0 failed", r.stdout)


if __name__ == "__main__":
    unittest.main()
