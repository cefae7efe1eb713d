"""Seeded git repository generator for the benchmark.

Each repository is written by piping a `git fast-import` stream into a fresh
`git init`, so its history is fully determined by (seed, name, commit count):
author and committer dates are pinned, and the same seed gives the same HEAD
SHA and the same tag list.

A history covers the shapes the ETL has to handle: an empty root commit,
merges from a side branch, pure renames (numstat `{old => new}`), binary files
(numstat `-`), paths with spaces, annotated and lightweight tags, one email
used under two names, and an author email the validators reject.
"""
import os
import random
import subprocess
from concurrent.futures import ThreadPoolExecutor

WORKERS = 4


def git_env(ceiling):
    """Environment for every git call the benchmark makes: no user or system
    config, no upward repo discovery past `ceiling`."""
    env = dict(os.environ)
    env.update({
        "GIT_CONFIG_NOSYSTEM": "1",
        "GIT_CONFIG_GLOBAL": os.devnull,
        "GIT_CEILING_DIRECTORIES": os.path.abspath(ceiling),
        "GIT_TERMINAL_PROMPT": "0",
        "LC_ALL": "C",
    })
    return env


IDENTITIES = [("Dev %d" % i, "dev%d@example.com" % i) for i in range(24)] + [
    ("Alice", "alice@example.com"),
    ("Alice Smith", "alice@example.com"),  # one email under two names
    ("CI Bot", "ci-bot"),                  # rejected by Validate.emailError
]
DIRS = ["src", "lib", "docs", "test", "dir name", "src/core", "src/util",
        "lib/io", "tools", "test/unit"]
MAX_FILES = 240
EXTS = ["py", "ts", "go", "rs", "js", "scala", "md", "txt"]
WORDS = ["alpha", "beta", "gamma", "delta", "parse", "merge", "index", "store",
         "query", "plan", "scan", "join", "value", "key", "row", "batch"]
BASE_TS = 1_500_000_000


class _Stream:
    """Accumulates one fast-import stream; marks are assigned in order."""

    def __init__(self):
        self.parts = []
        self.mark = 0

    def add(self, s):
        self.parts.append(s.encode() if isinstance(s, str) else s)

    def data(self, payload):
        if isinstance(payload, str):
            payload = payload.encode()
        self.add("data %d\n" % len(payload))
        self.add(payload)
        self.add("\n")

    def next_mark(self):
        self.mark += 1
        return self.mark

    def bytes(self):
        return b"".join(self.parts)


def _text(rng, n):
    return "".join(" ".join(rng.choice(WORDS) for _ in range(6)) + "\n"
                   for _ in range(n))


def _ident(rng):
    # The rejected identity is rare so most of the history is loadable.
    if rng.random() < 0.01:
        return IDENTITIES[-1]
    return rng.choice(IDENTITIES[:-1])


class History:
    """Generator state for one repository's main branch."""

    def __init__(self, rng, ts):
        self.rng = rng
        self.ts = ts
        self.files = {}       # path -> list of lines (text) or None (binary)
        self.text_paths = []
        self.next_file = 0
        self.tags = 0

    def new_path(self):
        self.next_file += 1
        d = self.rng.choice(DIRS)
        ext = self.rng.choice(EXTS)
        stem = ("file with spaces %d" if self.rng.random() < 0.1 else "f%d") % self.next_file
        return "%s/%s.%s" % (d, stem, ext)

    def edits(self):
        """1-3 file operations: (kind, path, payload) with kind M/R."""
        rng = self.rng
        ops = []
        for _ in range(rng.randint(1, 3)):
            r = rng.random()
            text_paths = self.text_paths
            if r < 0.04 and text_paths and not ops:
                old = rng.choice(text_paths)
                new = old.rsplit("/", 1)[0] + "/renamed %d.%s" % (self.next_file, old.rsplit(".", 1)[-1])
                self.next_file += 1
                self.files[new] = self.files.pop(old)
                self.text_paths[self.text_paths.index(old)] = new
                ops.append(("R", old, new))
                break  # a pure rename, alone in its commit: numstat shows {old => new}
            if r < 0.08 and len(self.files) < MAX_FILES:
                path = self.new_path().rsplit(".", 1)[0] + ".png"
                blob = bytes(rng.getrandbits(8) for _ in range(64)) + b"\x00\x01"
                self.files[path] = None
                ops.append(("M", path, blob))
                continue
            # Trees stay small (about MAX_FILES files): fast-import writes
            # every touched tree again, so a wide tree makes generation slow.
            if text_paths and (r < 0.7 or len(self.files) >= MAX_FILES):
                path = rng.choice(text_paths)
                lines = self.files[path]
                drop = rng.randint(0, min(3, len(lines)))
                del lines[:drop]
                lines.extend(_text(rng, rng.randint(1, 6)).splitlines(True))
                if len(lines) > 24:
                    del lines[:len(lines) - 24]
            else:
                path = self.new_path()
                self.files[path] = _text(rng, rng.randint(2, 12)).splitlines(True)
                text_paths.append(path)
            ops.append(("M", path, "".join(self.files[path])))
        return ops


def _commit(st, ref, h, message, parents=(), merge=None, ops=()):
    h.ts += h.rng.randint(60, 7200)
    name, email = _ident(h.rng)
    mark = st.next_mark()
    st.add("commit %s\nmark :%d\n" % (ref, mark))
    st.add("author %s <%s> %d +0000\n" % (name, email, h.ts))
    st.add("committer %s <%s> %d +0000\n" % (name, email, h.ts))
    st.data(message)
    for p in parents:
        st.add("from %s\n" % p)
    if merge is not None:
        st.add("merge :%d\n" % merge)
    for kind, a, b in ops:
        if kind == "R":
            st.add('R "%s" "%s"\n' % (a, b))
        else:
            st.add('M 100644 inline "%s"\n' % a)
            st.data(b)
    st.add("\n")
    return mark


def _tag(st, h, target):
    h.tags += 1
    name = "v0.%d" % h.tags
    if h.tags % 2:
        tagger, email = h.rng.choice(IDENTITIES[:-1])
        st.add("tag %s\nfrom :%d\n" % (name, target))
        st.add("tagger %s <%s> %d +0000\n" % (tagger, email, h.ts))
        st.data("Release %s\n\nNotes for %s\n" % (name, name))
    else:
        st.add("reset refs/tags/%s\nfrom :%d\n\n" % (name, target))


def history_stream(seed, name, n_commits, tag_every=150):
    """fast-import stream for a repo with exactly `n_commits` commits
    reachable from refs/heads/main."""
    rng = random.Random("%s/%s" % (seed, name))
    h = History(rng, BASE_TS + rng.randint(0, 10_000_000))
    st = _Stream()
    main = "refs/heads/main"
    tip = _commit(st, main, h, "Initial empty commit\n")
    made = 1
    while made < n_commits:
        if n_commits - made >= 2 and rng.random() < 0.03:
            # fast-import does not merge trees: the merge commit replays the
            # side commit's edits so main's tree holds them.
            ops = h.edits()
            side = _commit(st, "refs/heads/side", h, "Side work %d\n" % made,
                           parents=[":%d" % tip], ops=ops)
            tip = _commit(st, main, h, "Merge side work %d\n" % made,
                          parents=[":%d" % tip], merge=side, ops=ops)
            made += 2
        else:
            tip = _commit(st, main, h, "Change %d: %s\n" % (made, rng.choice(WORDS)),
                          ops=h.edits())
            made += 1
        if made % tag_every == 0:
            _tag(st, h, tip)
    _tag(st, h, tip)
    return st.bytes()


def append_stream(seed, name, batch, n_commits):
    """fast-import stream adding `n_commits` commits on top of main; each
    commit adds new files only, so it needs no knowledge of the tree."""
    rng = random.Random("%s/%s/append/%d" % (seed, name, batch))
    h = History(rng, BASE_TS + 20_000_000 + batch * 100_000)
    h.next_file = 1_000_000 + batch * 1000
    st = _Stream()
    for i in range(n_commits):
        ops = [("M", h.new_path(), _text(rng, rng.randint(2, 8)))]
        _commit(st, "refs/heads/main", h, "Append %d.%d\n" % (batch, i),
                parents=["refs/heads/main^0"] if i == 0 else (), ops=ops)
    return st.bytes()


def author_emails(stream):
    """Author emails of the commits in a fast-import stream."""
    return [line[line.index(b"<") + 1:line.rindex(b">")].decode()
            for line in stream.split(b"\n") if line.startswith(b"author ")]


def fast_import(path, stream, env):
    subprocess.run(["git", "fast-import", "--quiet"], cwd=path, input=stream,
                   env=env, check=True, stdout=subprocess.DEVNULL)


def make_repo(path, stream, env):
    os.makedirs(path)
    subprocess.run(["git", "init", "--quiet", "-b", "main", path], env=env,
                   check=True, stdout=subprocess.DEVNULL)
    fast_import(path, stream, env)
    subprocess.run(["git", "checkout", "--quiet", "-f", "main"], cwd=path,
                   env=env, check=True)


def make_unreadable(path):
    """A directory discovery takes for a repo (it has `.git/`) that git
    cannot open."""
    os.makedirs(os.path.join(path, ".git"))
    with open(os.path.join(path, ".git", "HEAD"), "w") as f:
        f.write("not a ref\n")


def make_repo_set(root, seed, sizes, unreadable=True):
    """Create repos `root/<name>` for each (name, commits); returns names."""
    env = git_env(root)
    with ThreadPoolExecutor(WORKERS) as pool:
        list(pool.map(lambda s: make_repo(os.path.join(root, s[0]),
                                          history_stream(seed, *s), env), sizes))
    if unreadable:
        make_unreadable(os.path.join(root, "zz-unreadable"))
    return [name for name, _ in sizes]
