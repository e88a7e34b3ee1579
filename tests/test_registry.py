"""Driver-window rotation discipline, enforced mechanically (round-5
verdict item 4 + advice item 3).

The driver's correctness gate verifies only the FIRST 50 entries of
``__spark_entry__.queries()`` in dict order; the registry holds more.
COVERAGE.md states the policy; ROTATION.json is its machine-readable
manifest; these tests make violating it a test failure instead of a
convention:

- every rotated-out query sits past the window, and ONLY those;
- a query whose implementation changed this round is never rotated out
  (it needs fresh driver-green evidence);
- rotated-out queries keep an ENFORCED oracle check each round — the
  full DuckDB-parity gate (scripts/oracle_check.py) runs on exactly
  that set here, in-process, so a regression in a rotated-out query
  fails pytest, not just the by-hand replica.
"""

import json
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
MANIFEST = json.loads((ROOT / "ROTATION.json").read_text())


def _registry():
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql()


def test_rotated_out_are_exactly_the_tail():
    qs, _ = _registry()
    names = list(qs)
    window = MANIFEST["window"]
    assert len(names) >= window, (
        f"registry shrank below the driver window ({len(names)} < {window})")
    tail = set(names[window:])
    assert tail == set(MANIFEST["rotated_out"]), (
        "queries past the driver window must be exactly ROTATION.json's "
        f"rotated_out list; tail={sorted(tail)}")


def test_changed_queries_sit_inside_the_window():
    qs, _ = _registry()
    in_window = set(list(qs)[:MANIFEST["window"]])
    changed = set(MANIFEST["changed_this_round"])
    unknown = changed - qs.keys()
    assert not unknown, f"changed_this_round names not in queries(): {unknown}"
    out = changed - in_window
    assert not out, (
        f"queries changed this round MUST be within the first "
        f"{MANIFEST['window']} entries for driver-green evidence: {out}")


def test_rotated_out_have_oracles():
    """Rotation is only legal for full oracle-checked relational SQL —
    a rows-only query may never be rotated out."""
    qs, oracles = _registry()
    missing = set(MANIFEST["rotated_out"]) - oracles.keys()
    assert not missing, f"rotated-out queries without oracle_sql: {missing}"


def test_rotated_out_oracle_parity(spark):
    """The enforced check the rotation policy promises: run the full
    Spark-vs-DuckDB gate on every rotated-out query (they are outside
    the driver's window, so THIS is their only automated verification).
    Reuses the session's JVM via scripts.oracle_check.main."""
    import sys

    sys.path.insert(0, str(ROOT))
    from scripts.oracle_check import main

    rc = main("/root/testdata/sf0.01", only=",".join(MANIFEST["rotated_out"]))
    assert rc == 0, "rotated-out query failed oracle parity (see stdout)"


def _env_levers_read(pkg: pathlib.Path) -> set[str]:
    """FASTPASTA_* names the package reads from the environment:
    ``os.environ.get("X")``, ``os.environ["X"]`` or ``os.getenv("X")``."""
    import ast

    names = set()
    for path in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                fn = ast.unparse(node.func)
                key = node.args[0] if node.args else None
                if not (fn.endswith("environ.get") or fn.endswith("getenv")):
                    continue
            elif isinstance(node, ast.Subscript):
                if not ast.unparse(node.value).endswith("environ"):
                    continue
                key = node.slice
            else:
                continue
            if (isinstance(key, ast.Constant) and isinstance(key.value, str)
                    and key.value.startswith("FASTPASTA_")):
                names.add(key.value)
    return names


def test_env_levers_are_pinned():
    """The package reads exactly two FASTPASTA_* env vars, both guarding
    a real resource limit (README documents them). A new one needs a
    reason to exist and an update here; A/B levers do not belong."""
    assert _env_levers_read(ROOT / "fastpasta_spark") == {
        "FASTPASTA_MEDIA_BC_MAX", "FASTPASTA_CACHE_COMPRESS"}
