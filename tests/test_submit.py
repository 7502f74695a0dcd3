"""The north rule's deployment surface, actually exercised: build the
--py-files zip, copy ONLY the entry script to a foreign directory (so
the package is NOT importable from cwd or the script's parent — every
import must come from the shipped zip), and run the checkpointed job
through the real `spark-submit` binary."""

import os
import shutil
import subprocess
import zipfile

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _build_zip(dest: str) -> None:
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "mcp_ocr_server_spark")
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for f in filenames:
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    z.write(p, os.path.relpath(p, REPO))


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="no spark-submit binary"
)
def test_spark_submit_pyfiles_roundtrip(tmp_path):
    zp = str(tmp_path / "mcp_ocr_server_spark.zip")
    _build_zip(zp)
    scripts = tmp_path / "scripts"
    scripts.mkdir()
    shutil.copy(
        os.path.join(REPO, "scripts", "run_extract.py"),
        scripts / "run_extract.py",
    )
    out = str(tmp_path / "out")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    res = subprocess.run(
        [
            SPARK_SUBMIT, "--master", "local[4]",
            "--py-files", zp,
            str(scripts / "run_extract.py"),
            "--out", out, "--synthetic-docs", "120", "--buckets", "2",
        ],
        cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=240,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "committed 2 buckets (0 already done)" in res.stdout

    # committed output integrity: (doc_id, order) unique, spans present
    con = duckdb.connect()
    n, dups = con.sql(
        f"""SELECT count(*),
                   count(*) - count(DISTINCT (doc_id, "order"))
            FROM read_parquet('{out}/spans/bucket=*/*.parquet')"""
    ).fetchone()
    assert n > 0 and dups == 0


def test_run_extract_compact_flag(tmp_path):
    """--compact binpacks each committed bucket's span files in place:
    file count drops, content ((doc_id, order) set) is identical,
    watermarks untouched, and a follow-up resume is still a no-op."""
    import sys

    out = str(tmp_path / "out")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    base = [
        sys.executable, os.path.join(REPO, "scripts", "run_extract.py"),
        "--out", out, "--synthetic-docs", "120", "--buckets", "2",
    ]
    r1 = subprocess.run(base, cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=240)
    assert r1.returncode == 0, r1.stderr[-2000:]

    con = duckdb.connect()
    glob = f"{out}/spans/bucket=*/*.parquet"
    want = con.sql(
        f'SELECT doc_id, "order" FROM read_parquet(\'{glob}\') ORDER BY 1, 2'
    ).fetchall()
    n_files_before = len(con.sql(
        f"SELECT DISTINCT filename FROM read_parquet('{glob}', filename=true)"
    ).fetchall())

    r2 = subprocess.run(base + ["--compact"], cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=240)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "(2 already done)" in r2.stdout  # resume no-op before compact
    assert "compacted span files" in r2.stdout

    got = con.sql(
        f'SELECT doc_id, "order" FROM read_parquet(\'{glob}\') ORDER BY 1, 2'
    ).fetchall()
    assert got == want
    n_files_after = len(con.sql(
        f"SELECT DISTINCT filename FROM read_parquet('{glob}', filename=true)"
    ).fetchall())
    assert n_files_after < n_files_before
    # still resumable: third run is a no-op over compacted buckets
    r3 = subprocess.run(base, cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=240)
    assert r3.returncode == 0 and "(2 already done)" in r3.stdout


def test_run_query_cli(spark, tmp_path, monkeypatch):
    """run_query.py: runs a registry query to parquet + manifest line,
    rejects unknown names loudly (no bench-style silent skip), and
    --list prints the registry."""
    import json
    import sys

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import run_query

    out = str(tmp_path / "rq")
    monkeypatch.setattr(
        sys, "argv",
        ["run_query.py", "--sf-dir", "/root/testdata/sf0.001",
         "--out", out, "--queries", "doc_length_hist"],
    )
    run_query.main()
    man = [
        json.loads(l)
        for l in open(os.path.join(out, "manifest.jsonl"))
    ]
    assert man[0]["query"] == "doc_length_hist" and man[0]["rows"] > 0
    got = spark.read.parquet(os.path.join(out, "doc_length_hist"))
    assert got.count() == man[0]["rows"]

    monkeypatch.setattr(
        sys, "argv",
        ["run_query.py", "--sf-dir", "x", "--out", "y",
         "--queries", "not_a_query"],
    )
    import pytest as _pytest
    with _pytest.raises(SystemExit, match="unknown queries"):
        run_query.main()


class _Frame:
    """Stands in for the session, its DataFrames and their writers:
    every attribute and call returns itself, and parquet(path) leaves
    the `_SUCCESS` file a finished write leaves."""

    def __getattr__(self, name):
        return self

    def __call__(self, *args, **kwargs):
        return self

    def parquet(self, path):
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, "_SUCCESS"), "w").close()
        return self


def test_synthetic_rerun_with_other_n_docs_rematerializes(tmp_path,
                                                          monkeypatch):
    """--synthetic-docs is part of the materialized corpus's identity: a
    rerun on the same --out with another N rebuilds input/ while no
    bucket is committed and refuses once one is.  Spark is faked; only
    the marker logic in main() runs."""
    import importlib.util
    import sys
    import types

    from mcp_ocr_server_spark.plans import checkpoint

    spec = importlib.util.spec_from_file_location(
        "run_extract_main", os.path.join(REPO, "scripts", "run_extract.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    built = []
    monkeypatch.setattr(mod, "get_spark", lambda **kw: _Frame())
    monkeypatch.setattr(mod, "run_checkpointed", lambda *a, **kw:
                        types.SimpleNamespace(buckets_committed=0,
                                              buckets_done_before=0,
                                              spans_written=0))
    monkeypatch.setattr(checkpoint, "bucket_col", lambda n: None)
    monkeypatch.setattr(mod.S, "docs_df", lambda spark, corpus:
                        built.append(corpus.n_docs) or _Frame())
    monkeypatch.setattr(mod.S, "media_df", lambda spark, corpus: _Frame())

    def run(n_docs):
        monkeypatch.setattr(sys, "argv", [
            "run_extract.py", "--out", str(tmp_path),
            "--synthetic-docs", str(n_docs), "--buckets", "2"])
        mod.main()

    run(40)
    run(40)
    run(80)
    assert built == [40, 80]
    checkpoint.CheckpointStore(str(tmp_path)).commit(0, {})
    with pytest.raises(SystemExit, match="committed buckets"):
        run(40)
    run(80)
    assert built == [40, 80]
