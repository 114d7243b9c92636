"""Round-tooling behavior pins: the drift adjudicator's control
normalization must actually self-adjudicate a
uniformly-loaded session, and the record loaders must survive both full
records and truncated driver tails."""

import json
import subprocess
import sys


def _record(tmp_path, name, mins, control):
    doc = {
        "queries_min": mins,
        "secondary_min": {},
        "control_query": "q1_pricing_summary",
        "control_min_sec": control,
        "sf": 0.1,
    }
    p = tmp_path / name
    p.write_text(json.dumps(doc))
    return str(p)


def _run_drift(old, new):
    return subprocess.run(
        [sys.executable, "/root/repo/tools/bench_drift.py", old, new],
        capture_output=True,
        text=True,
        check=True,
    ).stdout


def test_uniform_slowdown_self_adjudicates(tmp_path):
    """Every query 2x slower INCLUDING the control: raw comparison would
    flag the whole suite; control-normalized ratios are all 1.0 and
    nothing flags."""
    base = {"qa": 1.0, "qb": 2.0, "q1_pricing_summary": 0.5}
    slow = {k: v * 2 for k, v in base.items()}
    out = _run_drift(
        _record(tmp_path, "old.json", base, 0.5),
        _record(tmp_path, "new.json", slow, 1.0),
    )
    assert "handicap x2.00" in out
    assert "SLOWER" not in out
    assert "no query min regressed" in out


def test_real_regression_survives_normalization(tmp_path):
    """One query 4x slower on a session whose control is unchanged must
    still flag after normalization."""
    base = {"qa": 1.0, "qb": 2.0, "q1_pricing_summary": 0.5}
    new = dict(base, qa=4.0)
    out = _run_drift(
        _record(tmp_path, "old.json", base, 0.5),
        _record(tmp_path, "new.json", new, 0.5),
    )
    assert "SLOWER x4.00  qa" in out
    assert "qb" not in [l.split()[2] for l in out.splitlines() if "SLOWER" in l]


def test_control_recovered_from_truncated_tail(tmp_path):
    """Driver BENCH_r{N}.json tails truncate the JSON front; the control
    field must still be recovered by regex."""
    sys.path.insert(0, "/root/repo/tools")
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bd", "/root/repo/tools/bench_drift.py"
    )
    bd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bd)
    p = tmp_path / "tail.json"
    p.write_text('...runcated {"control_min_sec": 0.75, "sf": 0.1}')
    assert bd.load_control(str(p)) == 0.75


def test_no_module_level_ab_flags():
    """One implementation per operator: no package module carries a
    module-level boolean switch (``NAME = True``/``NAME = False``) that
    selects between two code paths."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "mongo_polars_reconciliation_spark"
    )
    flag = re.compile(r"^[A-Z_]+ = (True|False)$", re.MULTILINE)
    hits = [
        f"{path.relative_to(pkg)}: {m.group(0)}"
        for path in sorted(pkg.rglob("*.py"))
        for m in flag.finditer(path.read_text())
    ]
    assert not hits, hits


def test_leaf_modules_imported_at_module_level():
    """``functions.*``, ``session`` and ``harness.oracles`` import nothing
    from the package but ``functions``, so no module needs to import them
    inside a function, or below its header, to break a cycle; such an
    import is a hidden per-call cost and a dependency the module header
    does not show."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "mongo_polars_reconciliation_spark"
    )
    leaf = (
        r"from mongo_polars_reconciliation_spark\."
        r"(functions\b|session import|harness\.oracles import)"
    )
    local = re.compile(rf"^\s+{leaf}|^{leaf}.*noqa: E402")
    hits = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if local.match(line)
    ]
    assert not hits, hits


# Each of these is the body of one shared SQL fragment in
# harness/oracles.py (fixture CTE, kernel or cascade step); a second copy
# is a fixture or kernel change waiting to be made in only one place.
_ORACLE_FRAGMENT_LITERALS = [
    "SELECT doc_id + 200000, substr(text, strpos(text, ' ') + 1)",
    "0.4 * LEAST(1.0",
    "i -> a.v[i]*b.v[i]",
    "i -> v[i]*q[i]",
    "ORDER BY cos_r DESC, vec_id",
    "WHEN doc_id % 97 = 0",
    "('en','the')",
    "i -> CASE WHEN i <= 8 THEN 0.0",
    "SELECT lo AS node FROM mis_edges UNION ALL",
    "(h, c) -> (h*31 + c) % 8191",
    "FLOOR(CAST(i.n_int AS DOUBLE)",
    "ORDER BY ABS(b.importe - a.amount), b.row_num",
    "generate_series(1, len(t)-",
]


def test_oracle_fragments_written_once():
    """Every fixture CTE and SQL kernel of the DuckDB oracles is written
    once, and the oracle module imports nothing from the package but the
    shared SQL hash helpers (an oracle built from engine code would check
    the engine against itself)."""
    import ast
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[1] / (
        "mongo_polars_reconciliation_spark/harness/oracles.py"
    )
    src = path.read_text()
    repeated = {
        lit: src.count(lit)
        for lit in _ORACLE_FRAGMENT_LITERALS
        if src.count(lit) > 1
    }
    assert not repeated, repeated
    pkg_imports = {
        node.module
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").startswith("mongo_polars_reconciliation_spark")
    }
    assert pkg_imports == {"mongo_polars_reconciliation_spark.functions.hashing"}


_KEY_STATE_BUILDERS = {"band_state", "assignment_state", "payload_block_state"}
_DIGEST_LEDGER_COLUMNS = {"text_hash", "payload_hash"}


def _hand_built_ingest_state(src):
    """Lines of ``src`` that build an ingest seed or fold by hand: an
    ``md5(...)`` aliased to a digest-ledger column, or a key-state
    builder's rows passed to ``unionByName``."""
    import ast

    def name(func):
        return getattr(func, "attr", getattr(func, "id", None))

    found = []
    for node in ast.walk(ast.parse(src)):
        if not (isinstance(node, ast.Call) and node.args):
            continue
        arg = node.args[0]
        if (
            name(node.func) == "alias"
            and isinstance(arg, ast.Constant)
            and arg.value in _DIGEST_LEDGER_COLUMNS
            and any(
                isinstance(n, ast.Call) and name(n.func) == "md5"
                for n in ast.walk(node.func)
            )
        ) or (
            name(node.func) == "unionByName"
            and isinstance(arg, ast.Call)
            and name(arg.func) in _KEY_STATE_BUILDERS
        ):
            found.append(node.lineno)
    return found


def test_ingest_state_built_only_by_family_definitions():
    """Every harness face, tool and test takes its ingest seeds and folds
    from the family definitions in streaming/corpus.py, so the digest
    ledger's NULL rule, the face layout and the geometry cannot drift
    between copies. The bucketing plan pins build state tables as unit
    tests of the builders themselves and are exempt."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    files = [
        *(root / "mongo_polars_reconciliation_spark/harness").glob("*.py"),
        *(root / "tools").glob("*.py"),
        *(root / "tests").glob("*.py"),
    ]
    found = {
        str(f.relative_to(root)): lines
        for f in files
        if f.name != "test_bucketing.py"
        and (lines := _hand_built_ingest_state(f.read_text()))
    }
    assert not found, found


def test_capture_plans_names_unknown_faces(tmp_path):
    """An unknown face name fails up front, naming every unknown face,
    before any Spark application starts."""
    import os
    import pathlib

    tool = pathlib.Path(__file__).resolve().parents[1] / "tools" / "capture_plans.py"
    out = subprocess.run(
        [
            sys.executable,
            str(tool),
            str(tmp_path / "plans"),
            "recon_amount_quantiles",
            "no_such_face",
            "stream_datacard",
        ],
        capture_output=True,
        text=True,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": str(tmp_path)},
    )
    assert out.returncode != 0
    assert "unknown faces: no_such_face stream_datacard" in out.stderr
    assert not (tmp_path / "plans").exists()


def test_scale_probe_names_unknown_probes(tmp_path):
    """Unknown probe names (``match_skew`` was deleted) fail up front,
    each named, before any Spark application starts: a started driver
    would create its block manager dir under ``SPARK_LOCAL_DIRS``."""
    import os
    import pathlib

    tool = pathlib.Path(__file__).resolve().parents[1] / "tools" / "scale_probe.py"
    local = tmp_path / "spark-local"
    out = subprocess.run(
        [sys.executable, str(tool), "4", "simhash,match_skew,no_such_probe"],
        capture_output=True,
        text=True,
        env={**os.environ, "SPARK_LOCAL_DIRS": str(local)},
    )
    assert out.returncode != 0
    assert "unknown probe(s) ['match_skew', 'no_such_probe']" in out.stderr
    assert not local.exists()
