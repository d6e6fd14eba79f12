"""Tests of the benchmark harness: python3 -m unittest perfbench/test_run.py"""
import importlib.util
import os
import tempfile
import time
import unittest

_spec = importlib.util.spec_from_file_location(
    "perfbench_run", os.path.join(os.path.dirname(__file__), "run.py"))
run = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(run)


class SweepTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        run.RUNS = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def make(self, name, heartbeat_age=None, dir_age=0):
        d = os.path.join(self.tmp.name, name)
        os.makedirs(os.path.join(d, "deep", "er"))
        old = time.time() - dir_age
        if heartbeat_age is not None:
            hb = os.path.join(d, "heartbeat")
            open(hb, "w").close()
            t = time.time() - heartbeat_age
            os.utime(hb, (t, t))
        os.utime(d, (old, old))
        return d

    def test_live_run_with_old_top_level_mtime_is_kept(self):
        # the dir itself is old (work happens in subdirs), the heartbeat fresh
        d = self.make("live", heartbeat_age=1, dir_age=3600)
        run.sweep_stale_runs()
        self.assertTrue(os.path.isdir(d))

    def test_dead_run_is_swept(self):
        d = self.make("dead", heartbeat_age=run.STALE_S + 30)
        run.sweep_stale_runs()
        self.assertFalse(os.path.exists(d))

    def test_new_dir_without_heartbeat_is_kept(self):
        d = self.make("starting")
        run.sweep_stale_runs()
        self.assertTrue(os.path.isdir(d))


if __name__ == "__main__":
    unittest.main()
