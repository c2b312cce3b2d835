"""Order-independence of the catalog result fingerprint (perfbench.Fingerprint).

Builds the benchmark and runs perfbench.FingerprintCheck in a small JVM.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import run  # noqa: E402


@unittest.skipUnless(os.path.isdir(build.SPARK_JARS), "Spark jars not installed")
class FingerprintTest(unittest.TestCase):
    def test_fingerprint_is_order_independent_and_sensitive(self):
        classpath = build.build()
        tmp = tempfile.mkdtemp(dir=build.build_dir())
        try:
            cmd = (["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
                   + run.ADD_OPENS + ["-cp", classpath, "perfbench.FingerprintCheck"])
            r = subprocess.run(cmd, cwd=tmp, capture_output=True, text=True,
                               timeout=300)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("fingerprint ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
