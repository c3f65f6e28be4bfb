"""Driver-sweep rotation evidence (round-5 judge directive 2).

The correctness driver samples ~50 registry entries per round in
registration order. The rotation rule is: priority goes to entries whose
implementation CHANGED since their last driver-green row, plus entries
NEVER driver-checked, then everything else oldest-evidence-first.

"Changed" is detected by ``registry.entry_source_hash``: the source text
of every package definition an entry reaches, plus its oracle SQL.
``driver_evidence.json`` (committed at the repo root) records, per entry,
the last driver round with a full-pass row and the source hash captured
when that evidence was last refreshed. At import time
``cocktailsdb_spark.registry`` consults this file to order QUERIES.

Regenerate after each round lands its CORRECTNESS_r{N}.json:

    python tools/driver_rotation.py refresh

which (a) bumps ``last_round`` for every entry with a full-pass row in
the newest CORRECTNESS file and (b) re-captures the source hash for
exactly those entries — so an entry edited after its last driver row
keeps its OLD hash and sorts back to the front until the driver re-checks
it.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EVIDENCE = ROOT / "driver_evidence.json"

sys.path.insert(0, str(ROOT))


def current_hashes() -> dict[str, str]:
    from cocktailsdb_spark.registry import entry_source_hash, QUERIES

    return {name: entry_source_hash(name) for name in QUERIES}


def full_pass(rec: dict) -> bool:
    # rows-only-by-design entries (no DuckDB twin): the driver records
    # err='no_oracle' with the produced row count — its strongest check
    if rec.get("err") == "no_oracle":
        return bool(rec.get("spark_rows"))
    if rec.get("err"):
        return False
    return rec.get("hash_match") is True


def _package_dirty() -> bool:
    """True when the working tree has modifications under the package —
    hashes captured then would describe UNCHECKED code, silently exempting
    edited-but-never-rechecked entries from the re-check queue."""
    import subprocess

    out = subprocess.run(
        ["git", "status", "--porcelain", "--", "cocktailsdb_spark"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=False,
    )
    return bool(out.stdout.strip())


def refresh() -> None:
    rounds = sorted(ROOT.glob("CORRECTNESS_r*.json"))
    evidence: dict[str, dict] = (
        json.loads(EVIDENCE.read_text()) if EVIDENCE.exists() else {}
    )
    dirty = _package_dirty()
    if dirty:
        print(
            "WARNING: cocktailsdb_spark/ has uncommitted edits — the driver "
            "checked the COMMITTED tree, so hashes are recorded as \"\" "
            "(entries stay on the re-check front until the driver sees "
            "current code)."
        )
    hashes = current_hashes()
    round_nos = [int(re.search(r"r(\d+)", p.stem).group(1)) for p in rounds]
    newest = max(round_nos, default=0)
    for path, rno in zip(rounds, round_nos):
        data = json.loads(path.read_text())
        for name, rec in data.items():
            if not full_pass(rec):
                continue
            prev = evidence.get(name, {})
            if prev.get("last_round", 0) < rno:
                # The current source hash is only valid evidence for the
                # NEWEST round (refresh runs right after it lands, before
                # edits). A historical round replayed during a rebuild
                # gets "" — never equal to a real hash, so the entry
                # sorts to the front until the driver re-checks it
                # (self-healing; the alternative would silently mark
                # edited-but-never-rechecked entries green).
                evidence[name] = {
                    "last_round": rno,
                    "hash": (
                        hashes.get(name, "")
                        if rno == newest and not dirty
                        else ""
                    ),
                }
    EVIDENCE.write_text(json.dumps(evidence, indent=1, sort_keys=True) + "\n")
    checked = set(evidence)
    allq = set(hashes)
    print(f"evidence for {len(checked)}/{len(allq)} entries -> {EVIDENCE}")
    print("never checked:", sorted(allq - checked))


def rebase(front: set[str]) -> None:
    """Re-capture CURRENT hashes for every evidenced entry except those in
    ``front``, whose hashes are cleared to "" (→ re-check queue).

    Use when a SHARED-infrastructure change (e.g. tables.load) flips the
    transitive hash of every entry at once: the full oracle selfcheck
    sweep is the evidence that the shared change is sound, so the driver's
    50-entry budget should be spent on the DIRECTLY edited entries and the
    never-checked tail, not on 200 loader-transitive flags. Only run a
    rebase after a 0-FAIL full sweep on current code.
    """
    if _package_dirty():
        raise SystemExit(
            "refusing to rebase: cocktailsdb_spark/ has uncommitted edits — "
            "commit the exact tree the 0-FAIL sweep ran on first."
        )
    evidence = json.loads(EVIDENCE.read_text())
    hashes = current_hashes()
    for name, rec in evidence.items():
        rec["hash"] = "" if name in front else hashes.get(name, "")
    EVIDENCE.write_text(json.dumps(evidence, indent=1, sort_keys=True) + "\n")
    print(f"rebased {len(evidence)} entries; {len(front)} forced to front")


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "refresh":
        refresh()
    elif len(sys.argv) > 1 and sys.argv[1] == "rebase":
        names = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else set()
        rebase(names)
    else:
        print(__doc__)
