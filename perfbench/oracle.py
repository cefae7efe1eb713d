"""Independent oracles for the benchmark's correctness checks.

Git facts come from the git CLI (`rev-list --count`, `log --numstat`,
`for-each-ref`, `ls-files`) and are compared, per repository, with the
tables the program wrote, read back with DuckDB. The README queries and the
ops-slice queries are re-run in DuckDB over the same inputs.
"""
import glob
import math
import os
import re
import subprocess

import duckdb

EMAIL = re.compile(r"^[^\s@]+@[^\s@]+\.[^\s@]+$")
LANGUAGE = {"ts": "TypeScript", "js": "JavaScript", "tsx": "TypeScript",
            "jsx": "JavaScript", "py": "Python", "go": "Go", "rs": "Rust",
            "java": "Java", "c": "C", "cpp": "C++", "cs": "C#", "rb": "Ruby",
            "php": "PHP", "swift": "Swift", "kt": "Kotlin", "scala": "Scala",
            "sh": "Shell", "nix": "Nix"}


def _git(path, env, *args):
    return subprocess.run(["git", *args], cwd=path, env=env, check=True,
                          capture_output=True).stdout.decode("utf-8", "replace")


def valid_email(email):
    return bool(EMAIL.match(email)) and len(email) <= 255


def git_facts(path, env):
    """Per-repository expectations for every ETL table."""
    f = {"commits": 0, "rejects": 0, "additions": 0, "deletions": 0,
         "file_changes": 0, "merges": 0, "last_ct": 0, "emails": set()}
    ok = False
    for line in _git(path, env, "log", "--numstat", "--format=@%H%x09%P%x09%ae%x09%ct").splitlines():
        if line.startswith("@"):
            _, parents, email, ct = line[1:].split("\t")
            ok = valid_email(email)
            f["commits" if ok else "rejects"] += 1
            if ok:
                f["emails"].add(email)
                f["merges"] += len(parents.split()) > 1
                f["last_ct"] = max(f["last_ct"], int(ct))
        elif ok:
            parts = line.split()
            if len(parts) >= 3:
                f["file_changes"] += 1
                f["additions"] += int(parts[0]) if parts[0].isdigit() else 0
                f["deletions"] += int(parts[1]) if parts[1].isdigit() else 0
    f["head"] = _git(path, env, "rev-parse", "HEAD").strip()
    total = int(_git(path, env, "rev-list", "--count", "HEAD"))
    assert total == f["commits"] + f["rejects"], (path, total)
    kinds = _git(path, env, "for-each-ref", "refs/tags", "--format=%(objecttype)").split()
    f["tags"], f["annotated"] = len(kinds), kinds.count("tag")
    hist = {}
    for p in _git(path, env, "ls-files").splitlines():
        ext = p.rsplit(".", 1)[-1].lower() if "." in p else None
        if ext in LANGUAGE:
            hist[ext] = hist.get(ext, 0) + 1
    f["language"] = LANGUAGE[min(hist, key=lambda e: (-hist[e], e))] if hist else None
    return f


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def _rel(files):
    lst = ", ".join("'%s'" % f for f in files)
    return "read_parquet([%s], hive_partitioning=true, hive_types_autocast=false)" % lst


def etl_tables(out):
    """Table name -> DuckDB relation over a plain `Pipeline.etl` output."""
    return {t: _rel(glob.glob(os.path.join(out, t, "*.parquet")))
            for t in ["commits", "authors", "file_changes", "tags", "repos", "rejects"]}


def store_tables(store):
    """Table name -> DuckDB relation over the committed store generation:
    the latest `_store-manifest-*` names each table's manifest, which lists
    the table's data files."""
    latest = sorted(glob.glob(os.path.join(store, "_store-manifest-*")))[-1]
    out = {}
    for line in open(latest).read().splitlines():
        table, manifest = line.split("\t")
        files = [os.path.join(store, table, f)
                 for f in open(os.path.join(store, table, manifest)).read().splitlines() if f]
        out[table] = _rel(files) if files else None
    return out


def check_tables(tables, facts, author_commits=None):
    """Mismatches between the program's tables and the git facts. With
    `author_commits`, the authors table's summed `total_commits` must equal
    it (an incremental store adds a repo's full history on every run)."""
    con = _con()
    errs = []

    def rows(table, sql):
        if tables.get(table) is None:
            return {}
        return {r[0]: r[1:] for r in con.execute(sql % tables[table]).fetchall()}

    commits = rows("commits", "SELECT repo_name, count(*), sum(additions), sum(deletions), "
                   "sum(is_merge::INT), max(epoch(committed_at))::BIGINT FROM %s GROUP BY 1")
    fcs = rows("file_changes", "SELECT repo_name, count(*), sum(additions), sum(deletions) "
               "FROM %s GROUP BY 1")
    tags = rows("tags", "SELECT repo_name, count(*), sum(is_annotated::INT) FROM %s GROUP BY 1")
    repos = rows("repos", "SELECT name, total_commits, language, is_archived FROM %s")
    want_repos = {r for r, f in facts.items() if f["commits"]}
    if set(commits) != want_repos:
        errs.append("commits: repos %s, want %s" % (sorted(commits), sorted(want_repos)))
    if set(repos) != want_repos:
        errs.append("repos: names %s, want %s" % (sorted(repos), sorted(want_repos)))
    for r, f in sorted(facts.items()):
        checks = [
            ("commits", commits.get(r), (f["commits"], f["additions"], f["deletions"],
                                         f["merges"], f["last_ct"]) if f["commits"] else None),
            ("file_changes", fcs.get(r), (f["file_changes"], f["additions"], f["deletions"])
             if f["file_changes"] else None),
            ("tags", tags.get(r), (f["tags"], f["annotated"]) if f["tags"] else None),
            ("repos", repos.get(r), (f["commits"], f["language"], False) if f["commits"] else None),
        ]
        for name, got, want in checks:
            if (tuple(got) if got is not None else None) != want:
                errs.append("%s[%s]: got %s, want %s" % (name, r, got, want))
    if "rejects" in tables:
        n = con.execute("SELECT count(*) FROM %s" % tables["rejects"]).fetchone()[0]
        want = sum(f["rejects"] for f in facts.values())
        if n != want:
            errs.append("rejects: got %d, want %d" % (n, want))
    emails = set().union(*(f["emails"] for f in facts.values()))
    n, total = con.execute("SELECT count(*), sum(total_commits) FROM %s" % tables["authors"]).fetchone()
    want_total = author_commits if author_commits is not None else sum(
        f["commits"] for f in facts.values())
    if (n, total) != (len(emails), want_total):
        errs.append("authors: got (%s, %s), want (%d, %d)" % (n, total, len(emails), want_total))
    return errs


# README Q1-Q5, the same queries the JVM side runs over the store snapshot.
README_SQL = {
    "Q1": "SELECT name, email, total_commits FROM {authors} "
          "ORDER BY total_commits DESC, email",
    "Q2": "SELECT CAST(committed_at AS DATE) AS day, count(*) AS commits, "
          "sum(additions), sum(deletions) FROM {commits} GROUP BY 1 "
          "ORDER BY commits DESC, day LIMIT 10",
    "Q3": "SELECT repo_name, file_path, count(*) AS n, sum(additions), sum(deletions) "
          "FROM {file_changes} GROUP BY 1, 2 ORDER BY n DESC, repo_name, file_path LIMIT 20",
    "Q4": "SELECT repo_name, count(*) FROM {commits} GROUP BY 1 ORDER BY 1",
    "Q5": "SELECT repo_name, count(*), sum(CASE WHEN is_annotated THEN 1 ELSE 0 END) "
          "FROM {tags} GROUP BY 1 ORDER BY 1",
}


def check_readme(tables, got):
    """Compare the JVM's README results (rows of strings) with DuckDB's."""
    con = _con()
    errs = []
    for q, sql in README_SQL.items():
        want = [[None if v is None else str(v) for v in r]
                for r in con.execute(sql.format(**tables)).fetchall()]
        if want != got.get(q):
            errs.append("%s: got %s..., want %s..." % (q, str(got.get(q))[:200], str(want)[:200]))
    return errs


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def check_queries(sf_dir, check_dir, oracle_sql):
    """Each query's Spark result (parquet under check_dir/<name>) against
    its DuckDB oracle over the same tables: same columns, row count and
    values, with columns in name order and rows sorted."""
    con = _con()
    for t in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, t))
    errs = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            exp = con.execute(sql).fetchdf()
            got = con.execute("SELECT * FROM read_parquet('%s/*.parquet')"
                              % os.path.join(check_dir, name)).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            errs[name] = "exec error: %s" % e
            continue
        cols = sorted(exp.columns)
        if cols != sorted(got.columns) or len(exp) != len(got):
            errs[name] = "shape: want %s x %d, got %s x %d" % (
                cols, len(exp), sorted(got.columns), len(got))
            continue
        key = lambda r: tuple(str(v) for v in r)
        er = sorted(exp[cols].itertuples(index=False, name=None), key=key)
        gr = sorted(got[cols].itertuples(index=False, name=None), key=key)
        bad = [(e, g) for e, g in zip(er, gr) if not all(map(_same, e, g))]
        if bad:
            errs[name] = "%d rows differ, first: want %s got %s" % (len(bad), bad[0][0], bad[0][1])
    return errs
