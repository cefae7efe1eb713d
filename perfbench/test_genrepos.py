"""Tests for the seeded repo generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import genrepos  # noqa: E402

TMP = os.path.join(os.path.dirname(HERE), ".bench_build", "tmp", "test-genrepos")
SIZES = [("big", 400), ("small", 30)]


def git(path, *args):
    return subprocess.run(["git", *args], cwd=path, env=genrepos.git_env(TMP), check=True,
                          capture_output=True, text=True).stdout


def snapshot(root):
    return {n: (git(os.path.join(root, n), "rev-parse", "HEAD"),
                git(os.path.join(root, n), "for-each-ref", "refs/tags",
                    "--format=%(refname) %(objecttype) %(objectname)"))
            for n, _ in SIZES}


class GenReposTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        shutil.rmtree(TMP, ignore_errors=True)
        for run, seed in [("a", 5), ("b", 5), ("c", 6)]:
            genrepos.make_repo_set(os.path.join(TMP, run), seed, SIZES)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_same_seed_same_heads_and_tags(self):
        a, b = snapshot(os.path.join(TMP, "a")), snapshot(os.path.join(TMP, "b"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, snapshot(os.path.join(TMP, "c")))

    def test_history_covers_the_etl_corner_cases(self):
        repo = os.path.join(TMP, "a", "big")
        self.assertEqual(git(repo, "rev-list", "--count", "HEAD").strip(), "400")
        numstat = git(repo, "log", "--numstat", "--format=")
        self.assertIn("=>", numstat)                     # renames
        self.assertIn("-\t-\t", numstat)                 # binary files
        self.assertIn("file with spaces", numstat)       # paths with spaces
        self.assertTrue(git(repo, "rev-list", "--merges", "HEAD").strip())
        root = git(repo, "rev-list", "--max-parents=0", "HEAD").split()
        self.assertEqual(len(root), 1)
        self.assertEqual(git(repo, "show", "--format=", "--name-only", root[0]).strip(), "")
        kinds = git(repo, "for-each-ref", "refs/tags", "--format=%(objecttype)").split()
        self.assertIn("tag", kinds)                      # annotated
        self.assertIn("commit", kinds)                   # lightweight
        names = set(git(repo, "log", "--format=%an", "--author=alice@example.com").split("\n"))
        self.assertTrue({"Alice", "Alice Smith"} <= names)

    def test_unreadable_repo(self):
        broken = os.path.join(TMP, "a", "zz-unreadable")
        self.assertTrue(os.path.isdir(os.path.join(broken, ".git")))
        r = subprocess.run(["git", "rev-parse", "--abbrev-ref", "HEAD"], cwd=broken,
                           env=genrepos.git_env(os.path.join(TMP, "a")), capture_output=True)
        self.assertNotEqual(r.returncode, 0)


if __name__ == "__main__":
    unittest.main()
