"""The catalog's one commit path: every replacement or removal of a live
catalog path is staged, swapped in by ``catalog.commit`` and undone if
any step fails; a catalog reopened after a killed process rolls an
unfinished commit back. Also pins the stored-SQL sidecar format: opening
a catalog never runs stored code, and a failed sidecar write keeps the
previous sidecar.
"""

from __future__ import annotations

import base64
import json
import os
import pickle
import subprocess
import sys
import textwrap

import pytest

import nutdb_spark.catalog as cat
from nutdb_spark.catalog import CatalogError
from nutdb_spark.engine import NutEngine

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BASE = [
    "CREATE TABLE t (k Int64, v Int64) ORDER BY (k)",
    "INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)",
]
KV = ["k", "v"]
ROWS = [(1, 10), (2, 20), (3, 30)]
# max(v), so a row inserted twice refreshes the view the same way
FULL_VIEW = (
    "CREATE VIEW fv UPDATE BY Summing ORDER BY (k) AS "
    "SELECT k, max(v) AS v FROM t GROUP BY k"
)
INC_VIEW = "CREATE VIEW iv UPDATE BY Summing ORDER BY (k) AS SELECT k, v FROM t"


class Case:
    def __init__(
        self, setup, stmt, obj, before, after, write, asides, ins,
        moves_before=0, removes_before=0,
    ):
        self.setup, self.stmt, self.obj = setup, stmt, obj
        self.before, self.after = before, after
        # the staged write: (function, its call number in the statement)
        self.write = write
        self.asides, self.ins = asides, ins  # live paths moved aside / in
        # _move/_remove calls the statement makes before this commit
        self.moves_before, self.removes_before = moves_before, removes_before

    def steps(self) -> list[str]:
        return (
            (["write"] if self.write else [])
            + [f"aside{i}" for i in range(self.asides)]
            + [f"in{i}" for i in range(self.ins)]
            + ["drop_asides"]
        )


CASES = {
    # CTAS OR REPLACE reads the table it replaces
    "ctas_replace": Case(
        BASE, "CREATE OR REPLACE TABLE t AS SELECT k, v * 2 AS w FROM t",
        "t", (KV, ROWS), (["k", "w"], [(1, 20), (2, 40), (3, 60)]),
        ("parquet", 1), 2, 2,
    ),
    "alter_update": Case(
        BASE, "ALTER TABLE t UPDATE v = v + 1 WHERE k = 2",
        "t", (KV, ROWS), (KV, [(1, 10), (2, 21), (3, 30)]),
        ("parquet", 1), 1, 1,
    ),
    "alter_delete": Case(
        BASE, "ALTER TABLE t DELETE WHERE k = 2",
        "t", (KV, ROWS), (KV, [(1, 10), (3, 30)]),
        ("parquet", 1), 1, 1,
    ),
    "add_column": Case(
        BASE, "ALTER TABLE t ADD COLUMN w Int64 DEFAULT 7",
        "t", (KV, ROWS), (["k", "v", "w"], [(1, 10, 7), (2, 20, 7), (3, 30, 7)]),
        ("parquet", 1), 2, 2,
    ),
    "drop_column": Case(
        BASE, "ALTER TABLE t DROP COLUMN v",
        "t", (KV, ROWS), (["k"], [(1,), (2,), (3,)]),
        ("parquet", 1), 2, 2,
    ),
    "rename_column": Case(
        BASE, "ALTER TABLE t RENAME COLUMN v w",
        "t", (KV, ROWS), (["k", "w"], ROWS),
        ("parquet", 1), 2, 2,
    ),
    "merge": Case(
        BASE + [
            "CREATE TABLE s (k Int64, v Int64)",
            "INSERT INTO s VALUES (2, 99)",
        ],
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
        "t", (KV, ROWS), (KV, [(1, 10), (2, 99), (3, 30)]),
        ("parquet", 1), 1, 1,
    ),
    "optimize": Case(
        BASE + ["INSERT INTO t VALUES (1, 10)"],
        "OPTIMIZE TABLE t DEDUPLICATE",
        "t", (KV, sorted(ROWS + [(1, 10)])), (KV, ROWS),
        ("parquet", 1), 1, 1,
    ),
    # commit() makes its staging dir (call 1), TRUNCATE's write makes
    # the empty table dir inside it (call 2)
    "truncate": Case(
        BASE, "TRUNCATE TABLE t", "t", (KV, ROWS), (KV, []),
        ("makedirs", 2), 1, 1,
    ),
    "drop_table": Case(
        BASE, "DROP TABLE t", "t", (KV, ROWS), None, None, 2, 0,
    ),
    # the INSERT's own write is parquet call 1; the view's is call 2
    "full_view": Case(
        BASE + [FULL_VIEW], "INSERT INTO t VALUES (4, 40)",
        "fv", (KV, ROWS), (KV, ROWS + [(4, 40)]),
        ("parquet", 2), 1, 1,
    ),
    # one key, so one touched bucket, which already exists
    "inc_view_delta": Case(
        BASE + [INC_VIEW], "INSERT INTO t VALUES (1, 5)",
        "iv", (KV, ROWS), (KV, [(1, 15), (2, 20), (3, 30)]),
        ("parquet", 2), 1, 1,
    ),
    # the DELETE commits t first (2 moves, 2 removes), then the view's
    # state is rebuilt and committed whole
    "inc_view_rebuild": Case(
        BASE + [INC_VIEW], "ALTER TABLE t DELETE WHERE k = 2",
        "iv", (KV, ROWS), (KV, [(1, 10), (3, 30)]),
        ("parquet", 2), 1, 1, moves_before=2, removes_before=2,
    ),
}

PARAMS = [(name, step) for name, c in CASES.items() for step in c.steps()]

# A step that fails before the commit point leaves the case's object as
# set up, and every statement can run on it again (an INSERT's rows stay
# in the base table, but the view they failed to reach does not change),
# so the case's next step reuses the catalog.
_READY: dict[str, str] = {}


def _engine(spark, root) -> NutEngine:
    return NutEngine(spark, data_dir=SF, catalog_dir=str(root))


def _read(eng, obj):
    """(columns, sorted rows) of a catalog object, or None when it is
    gone."""
    if eng.catalog._load_meta(obj) is None:
        return None
    df = eng.sql(f"SELECT * FROM {obj}")
    return df.columns, sorted(tuple(r) for r in df.collect())


def _commit_entries(root) -> list[str]:
    """Commit names left in the root or in any object directory."""
    dirs = [str(root)] + [
        os.path.join(root, d)
        for d in os.listdir(root)
        if os.path.isdir(os.path.join(root, d))
    ]
    return [
        os.path.join(d, f)
        for d in dirs
        for f in os.listdir(d)
        if f.startswith(cat._COMMIT)
    ]


class _Fault:
    """Raise at the ``n``-th call of one filesystem step."""

    def __init__(self, monkeypatch, target: str, n: int):
        self.calls, self.n, self.fired = 0, n, False
        if target == "parquet":
            import pyspark.sql.readwriter as rw

            owner, attr = rw.DataFrameWriter, "parquet"
            err = RuntimeError("simulated write crash")
        elif target == "makedirs":
            owner, attr = cat.os, "makedirs"
            err = OSError("simulated crash in the staged write")
        else:
            owner, attr = cat, f"_{target}"
            err = OSError(f"simulated crash at {target} {n}")
        real = getattr(owner, attr)

        def hook(*a, **kw):
            self.calls += 1
            if self.calls == self.n:
                self.fired = True
                raise err
            return real(*a, **kw)

        monkeypatch.setattr(owner, attr, hook)
        self.err = err


@pytest.mark.parametrize("name,step", PARAMS, ids=[f"{n}-{s}" for n, s in PARAMS])
def test_commit_fault(spark, tmp_path_factory, monkeypatch, name, step):
    c = CASES[name]
    root = _READY.pop(name, None)
    eng = _engine(spark, root or tmp_path_factory.mktemp(name))
    if root is None:  # a reused catalog was read back by its last step
        root = eng.catalog.root
        for s in c.setup:
            eng.sql(s)
        assert _read(eng, c.obj) == c.before
    if step == "write":
        target, n = c.write
    elif step.startswith("aside"):
        target, n = "move", c.moves_before + 1 + int(step[5:])
    elif step.startswith("in"):
        target, n = "move", c.moves_before + c.asides + 1 + int(step[2:])
    else:
        target, n = "remove", c.removes_before + 1
    fault = _Fault(monkeypatch, target, n)
    committed = step == "drop_asides"
    if committed:
        # past the commit point a failed delete is left to the sweep
        eng.sql(c.stmt)
    else:
        with pytest.raises(type(fault.err), match="simulated"):
            eng.sql(c.stmt)
    monkeypatch.undo()
    assert fault.fired
    expected = c.after if committed else c.before
    assert _read(eng, c.obj) == expected
    if not committed:
        assert _commit_entries(root) == []
    fresh = _engine(spark, root)
    assert _read(fresh, c.obj) == expected
    assert _commit_entries(root) == []
    if not committed:
        _READY[name] = root


def test_killed_commit_rolls_back_on_next_open(spark, tmp_path):
    """A process that dies between two move-ins leaves the old table
    aside and half of the new one in; the next open rolls it back."""
    eng = _engine(spark, tmp_path)
    for s in BASE:
        eng.sql(s)
    eng.sql("CREATE TABLE u (k Int64) ORDER BY (k)")
    eng.sql("INSERT INTO u VALUES (7)")
    script = textwrap.dedent(
        f"""
        import json, os, shutil, sys
        sys.path.insert(0, {REPO!r})
        import nutdb_spark.catalog as cat

        root = {str(tmp_path)!r}
        moves = []
        real = cat._move

        def move(src, dst):
            moves.append(src)
            if len(moves) == 4:  # both asides and the first move-in done
                os._exit(3)
            real(src, dst)

        def write(staged):
            shutil.copytree(os.path.join(root, "u"), os.path.join(staged, "t"))
            with open(os.path.join(root, "u.json")) as f:
                meta = json.load(f)
            meta["name"] = "t"
            with open(os.path.join(staged, "t.json"), "w") as f:
                json.dump(meta, f)

        cat._move = move
        cat.commit(root, ["t", "t.json"], write)
        """
    )
    proc = subprocess.run([sys.executable, "-c", script], timeout=120)
    assert proc.returncode == 3
    assert _commit_entries(tmp_path)  # the dead process left its commit
    fresh = _engine(spark, tmp_path)
    assert _read(fresh, "t") == (KV, ROWS)
    assert _read(fresh, "u") == (["k"], [(7,)])
    assert _commit_entries(tmp_path) == []


class _Plant:
    """Unpickling this creates the marker file."""

    def __init__(self, marker: str):
        self.marker = marker

    def __reduce__(self):
        return (open, (self.marker, "w"))


def test_opening_a_catalog_never_runs_stored_code(spark, tmp_path):
    root = tmp_path / "cat"
    marker = tmp_path / "ran"
    eng = _engine(spark, root)
    eng.sql("CREATE TABLE other (k Int64)")
    payload = base64.b64encode(pickle.dumps(_Plant(str(marker)))).decode()
    (root / "v.json").write_text(
        json.dumps(
            {
                "type": "view", "name": "v", "strategy": "summing",
                "order_by": ["k"], "primary_key": None,
                "maintenance": "full", "query": payload,
            }
        )
    )
    os.makedirs(root / "v")
    eng = _engine(spark, root)
    eng.sql("INSERT INTO other VALUES (1)")
    shown = {tuple(r) for r in eng.sql("SHOW TABLES").collect()}
    assert ("other", "table") in shown
    assert not marker.exists()
    # the projection rewrite passes the view over; reading it names it
    assert eng.sql("SELECT k, count() AS n FROM other GROUP BY k").count() == 1
    with pytest.raises(CatalogError, match="view 'v'"):
        eng.sql("SELECT * FROM v")
    assert not marker.exists()


def test_failed_sidecar_write_keeps_previous(spark, tmp_path, monkeypatch):
    eng = _engine(spark, tmp_path)
    for s in BASE:
        eng.sql(s)
    before = eng.catalog._load_meta("t")

    def torn_dump(obj, f, **kw):
        f.write('{"type": "tab')
        raise OSError("disk full")

    monkeypatch.setattr(cat.json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        eng.sql("ALTER TABLE t ADD CONSTRAINT pos CHECK v > 0")
    monkeypatch.undo()
    assert eng.catalog._load_meta("t") == before
    assert _read(_engine(spark, tmp_path), "t") == (KV, ROWS)
    assert _commit_entries(tmp_path) == []
