"""Driver-contract smoke: entry() runs, queries()/oracle_sql() are sane."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "dayOfSale", "drink", "price", "bar", "strGlass", "drinkCount", "stock", "comment",
    ]


def test_oracle_keys_subset_of_queries():
    q, o = E.queries(), E.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 45


# --- driver-sweep rotation (round-5 judge directive 2) ----------------------


def test_rotation_prioritizes_changed_and_never_checked():
    """Registry order must put entries with no driver evidence, or whose
    implementation hash drifted from the recorded one, ahead of entries
    with current driver-green rows; the green tail is oldest-round-first."""
    import json
    from pathlib import Path

    from cocktailsdb_spark.registry import QUERIES, entry_source_hash

    ev_path = Path(__file__).resolve().parent.parent / "driver_evidence.json"
    evidence = json.loads(ev_path.read_text())
    names = list(QUERIES)

    def is_front(n):
        rec = evidence.get(n)
        return rec is None or rec.get("hash") != entry_source_hash(n)

    flags = [is_front(n) for n in names]
    # all front entries strictly precede all evidence-green ones
    if True in flags and False in flags:
        first_green = flags.index(False)
        assert not any(flags[first_green:]), (
            "changed/never-checked entry sorted behind a green one: "
            + str([n for n, f in zip(names[first_green:], flags[first_green:]) if f])
        )
        # green tail ascending by last driver round
        rounds = [evidence[n]["last_round"] for n in names[first_green:]]
        assert rounds == sorted(rounds)


def test_rotation_without_evidence_keeps_registration_order(tmp_path):
    """With no driver_evidence.json beside the package, QUERIES and ORACLES
    keep the order in which entries registered. The package is imported
    from a copy that has no evidence file; a profile hook snapshots both
    maps as ``_apply_driver_priority`` starts, i.e. right after the last
    registration."""
    import json
    import shutil
    import subprocess

    from cocktailsdb_spark.registry import QUERIES

    root = Path(__file__).resolve().parent.parent
    shutil.copytree(
        root / "cocktailsdb_spark",
        tmp_path / "cocktailsdb_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    assert not (tmp_path / "driver_evidence.json").exists()
    probe = """
import json, sys
seen = {}
def hook(frame, event, arg):
    if event == "call" and frame.f_code.co_name == "_apply_driver_priority":
        g = frame.f_globals
        seen["queries"], seen["oracles"] = list(g["QUERIES"]), list(g["ORACLES"])
sys.setprofile(hook)
from cocktailsdb_spark.registry import ORACLES, QUERIES
sys.setprofile(None)
print(json.dumps({"registered": seen, "queries": list(QUERIES), "oracles": list(ORACLES)}))
"""
    res = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["queries"] == out["registered"]["queries"]
    assert out["oracles"] == out["registered"]["oracles"]
    assert out["queries"][:2] == ["poc_analysis", "reference_parity_poc"]
    # the evidence-driven order of this process is a different permutation
    # of the same entries, so the comparison above is not vacuous
    assert sorted(out["queries"]) == sorted(QUERIES)
    assert out["queries"] != list(QUERIES)


def _fresh_hashes(cwd: Path, *names: str) -> dict[str, str]:
    """``entry_source_hash`` of the given entries (default: all) computed by
    a fresh interpreter that imports the package found in ``cwd``."""
    import json
    import subprocess

    probe = (
        "import json, sys\n"
        "from cocktailsdb_spark.registry import QUERIES, entry_source_hash\n"
        "print(json.dumps({n: entry_source_hash(n) for n in sys.argv[1:] or QUERIES}))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", probe, *names],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_entry_source_hash_is_deterministic(spark):
    """Entry hashes come from the code alone: a fresh process computes every
    one of them as this process does after loading every sf0.01 table
    (which fills ``tables._SCHEMAS``) and building the three entries that
    fill ``similarity._CENTROID_MEMO``."""
    from cocktailsdb_spark import tables
    from cocktailsdb_spark.operators import similarity
    from cocktailsdb_spark.registry import QUERIES, entry_source_hash

    fresh = _fresh_hashes(Path(__file__).resolve().parent.parent)

    sf = "/root/testdata/sf0.01"
    for table in tables.TABLES:
        tables.load(spark, sf, table)
    for name in ("kmeans_assign_centroid", "embedding_topk_ivf_kmeans", "embedding_topk_pq"):
        QUERIES[name](spark, sf).schema
    assert tables._SCHEMAS, "loading no longer fills the schema memo"
    assert similarity._CENTROID_MEMO, "building no longer fills the centroid memo"
    here = {n: entry_source_hash(n) for n in QUERIES}
    assert set(here) == set(fresh)
    assert sorted(n for n in here if here[n] != fresh[n]) == []


def _append_to_body(path: Path, fn: str) -> None:
    """Add a ``pass`` as the last statement of top-level function ``fn``."""
    import ast

    lines = path.read_text().splitlines(keepends=True)
    node = next(
        n
        for n in ast.parse("".join(lines)).body
        if isinstance(n, ast.FunctionDef) and n.name == fn
    )
    lines.insert(node.end_lineno, " " * node.body[-1].col_offset + "pass\n")
    path.write_text("".join(lines))


def _set_constant(path: Path, name: str, value: str) -> None:
    import re

    text, n = re.subn(rf"^{name} = .*$", f"{name} = {value}", path.read_text(), flags=re.M)
    assert n == 1, f"{name} is not assigned once at the top of {path.name}"
    path.write_text(text)


def test_helper_edits_move_the_entries_that_reach_them(tmp_path):
    """An entry's hash covers the helpers and constants it reaches only from
    a generator expression (``conform.filter_after_watermark``), a default
    argument (``MAX_DRIVER_KEYS``) or a dict comprehension
    (``tables.load``). Each edit is made in its own copy of the package,
    whose hashes a subprocess computes; an entry that reaches none of the
    edited definitions keeps its hash, so the copies hash like the repo."""
    import shutil

    from cocktailsdb_spark.registry import entry_source_hash

    root = Path(__file__).resolve().parent.parent
    control = "python_datasource_read"
    edits = [
        ("incremental_idempotence", _append_to_body, "conform.py", "filter_after_watermark"),
        ("http_dim_pipeline", _set_constant, "sources/http_source.py", "MAX_DRIVER_KEYS", "10"),
        ("column_entropy", _append_to_body, "tables.py", "load"),
    ]
    for i, (entry, edit, rel, *args) in enumerate(edits):
        copy = tmp_path / str(i)
        shutil.copytree(
            root / "cocktailsdb_spark",
            copy / "cocktailsdb_spark",
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        edit(copy / "cocktailsdb_spark" / rel, *args)
        edited = _fresh_hashes(copy, entry, control)
        assert edited[control] == entry_source_hash(control)
        assert edited[entry] != entry_source_hash(entry), f"{rel}: {args} edit missed {entry}"


def test_entry_source_hash_ignores_runtime_cache_state(spark, sf_dir):
    """Building/running a plan that fills a module-level memo (e.g. the
    kmeans centroid cache) must NOT change any entry's source hash —
    hashes capture code, not process state. Regression: _CENTROID_MEMO
    filling during a plan build flipped three ANN entries to the re-check
    front mid-session."""
    from cocktailsdb_spark.operators import similarity
    from cocktailsdb_spark.registry import QUERIES, entry_source_hash

    names = [
        "kmeans_assign_centroid",
        "embedding_topk_ivf_kmeans",
        "embedding_topk_pq",
    ]
    before = {n: entry_source_hash(n) for n in names}
    similarity._CENTROID_MEMO.clear()
    # build + touch one plan so the memo fills
    QUERIES["embedding_topk_ivf_kmeans"](spark, sf_dir).schema
    assert similarity._CENTROID_MEMO, "fixture no longer fills the memo"
    after = {n: entry_source_hash(n) for n in names}
    assert after == before


def test_driver_rotation_refresh_workflow(tmp_path, monkeypatch):
    """tools/driver_rotation.py refresh: bumps last_round for new
    full-pass rows, re-captures hashes ONLY for those entries, leaves
    already-current evidence untouched, and treats rows-only
    (err='no_oracle' with rows) as green."""
    import json

    from tools import driver_rotation as dr

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a": {"rows_match": True, "schema_match": True, "hash_match": True, "spark_rows": 5, "err": None},
        "b": {"rows_match": None, "schema_match": None, "hash_match": None, "spark_rows": 7, "err": "no_oracle"},
        "c": {"rows_match": True, "schema_match": True, "hash_match": False, "spark_rows": 5, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "a": {"rows_match": True, "schema_match": True, "hash_match": True, "spark_rows": 5, "err": None},
        "d": {"rows_match": None, "schema_match": None, "hash_match": None, "spark_rows": 0, "err": "no_oracle"},
    }))
    monkeypatch.setattr(dr, "ROOT", tmp_path)
    monkeypatch.setattr(dr, "EVIDENCE", tmp_path / "driver_evidence.json")
    monkeypatch.setattr(
        dr, "current_hashes", lambda: {"a": "HA", "b": "HB", "c": "HC", "d": "HD"}
    )
    dr.refresh()
    ev = json.loads((tmp_path / "driver_evidence.json").read_text())
    assert ev["a"] == {"last_round": 2, "hash": "HA"}
    # rows-only counts as green, but its round predates the newest file,
    # so the hash is UNKNOWN ("") — the entry stays in the re-check front
    # until the driver sees it again (history replay must not mark
    # edited-but-never-rechecked entries current)
    assert ev["b"] == {"last_round": 1, "hash": ""}
    assert "c" not in ev  # hash mismatch is NOT a full pass
    assert "d" not in ev  # zero rows is NOT green
    # idempotent: second refresh with unchanged rounds changes nothing
    dr.refresh()
    assert json.loads((tmp_path / "driver_evidence.json").read_text()) == ev
