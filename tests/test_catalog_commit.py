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
from nutdb_spark.frontend.lower import LoweringError

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
# a second table with its own view, for the statements over two tables
U = [
    "CREATE TABLE u (k Int64, v Int64) ORDER BY (k)",
    "INSERT INTO u VALUES (7, 70)",
    "CREATE VIEW uv UPDATE BY Summing ORDER BY (k) AS SELECT k, v FROM u",
]
U_ROWS = [(7, 70)]


class Case:
    def __init__(self, setup, stmt, obj, before, after, write, asides, ins):
        self.setup, self.stmt = setup, stmt
        # one object, or a tuple of objects checked together, each with
        # its own entry in ``before`` and ``after``
        together = isinstance(obj, tuple)
        self.objs = obj if together else (obj,)
        self.before = before if together else (before,)
        self.after = after if together else (after,)
        # the staged writes: (function, its call number in the
        # statement), a list when the commit stages several entries
        self.writes = write if isinstance(write, list) else [write] * bool(write)
        self.asides, self.ins = asides, ins  # live paths moved aside / in

    def steps(self) -> list[str]:
        return (
            ["write" + (str(i) if i else "") for i in range(len(self.writes))]
            + [f"aside{i}" for i in range(self.asides)]
            + [f"in{i}" for i in range(self.ins)]
            + ["drop_asides"]
        )


# A statement that writes a table commits the table and its views as
# one unit: the views' writes run beside the table's, in any order, so
# a fault in either write leaves both objects as they were.
T_IV = ("t", "iv")
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
    # the rewrite and the sidecar (serial counters) commit together
    "merge": Case(
        BASE + [
            "CREATE TABLE s (k Int64, v Int64)",
            "INSERT INTO s VALUES (2, 99)",
        ],
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v",
        "t", (KV, ROWS), (KV, [(1, 10), (2, 99), (3, 30)]),
        ("parquet", 1), 2, 2,
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
    # an INSERT commits its part file, the sidecar and the view: the
    # sidecar and the view move aside, all three move in
    "full_view": Case(
        BASE + [FULL_VIEW], "INSERT INTO t VALUES (4, 40)",
        ("t", "fv"), ((KV, ROWS),) * 2, ((KV, ROWS + [(4, 40)]),) * 2,
        [("parquet", 1), ("parquet", 2)], 2, 3,
    ),
    # one key, so one touched bucket, which already exists
    "inc_view_delta": Case(
        BASE + [INC_VIEW], "INSERT INTO t VALUES (1, 5)",
        T_IV, ((KV, ROWS),) * 2,
        ((KV, sorted(ROWS + [(1, 5)])), (KV, [(1, 15), (2, 20), (3, 30)])),
        [("parquet", 1), ("parquet", 2)], 2, 3,
    ),
    "inc_view_rebuild": Case(
        BASE + [INC_VIEW], "ALTER TABLE t DELETE WHERE k = 2",
        T_IV, ((KV, ROWS),) * 2, ((KV, [(1, 10), (3, 30)]),) * 2,
        [("parquet", 1), ("parquet", 2)], 2, 2,
    ),
    "optimize_inc_view": Case(
        BASE + [INC_VIEW, "INSERT INTO t VALUES (1, 10)"],
        "OPTIMIZE TABLE t DEDUPLICATE",
        T_IV,
        ((KV, sorted(ROWS + [(1, 10)])), (KV, [(1, 20), (2, 20), (3, 30)])),
        ((KV, ROWS),) * 2,
        [("parquet", 1), ("parquet", 2)], 2, 2,
    ),
    # the view's state write is the statement's one parquet write
    "truncate_inc_view": Case(
        BASE + [INC_VIEW], "TRUNCATE TABLE t",
        T_IV, ((KV, ROWS),) * 2, ((KV, []),) * 2,
        ("parquet", 1), 2, 2,
    ),
    # the statements that only re-stage what exists: the table's data
    # hard-linked under its new name (``link``), each sidecar written
    # (``dump``). RENAME moves aside t, t.json and the view's sidecar,
    # and moves in u, u.json and the view's rewritten sidecar.
    "rename_inc_view": Case(
        BASE + [INC_VIEW], "RENAME TABLE t TO u",
        ("t", "u", "iv"), ((KV, ROWS), None, (KV, ROWS)),
        (None, (KV, ROWS), (KV, ROWS)),
        [("link", 1), ("dump", 2)], 3, 3,
    ),
    # four data directories or sidecars per table, and both views'
    "exchange_views": Case(
        BASE + [INC_VIEW] + U, "EXCHANGE TABLES t AND u",
        ("t", "u", "iv", "uv"),
        ((KV, ROWS), (KV, U_ROWS), (KV, ROWS), (KV, U_ROWS)),
        ((KV, U_ROWS), (KV, ROWS), (KV, ROWS), (KV, U_ROWS)),
        [("link", 2), ("dump", 3)], 6, 6,
    ),
    "detach": Case(
        BASE, "DETACH TABLE t", "t", (KV, ROWS), None, ("link", 1), 1, 1,
    ),
    "attach": Case(
        BASE + ["DETACH TABLE t"], "ATTACH TABLE t",
        "t", None, (KV, ROWS), ("link", 1), 1, 1,
    ),
    # the backup is outside the catalog; commit() makes its staging dir
    # (makedirs call 1), the copy of the backup's data its own (call 2)
    "restore": Case(
        BASE + ["BACKUP TABLE t TO '{root}-bk'"],
        "RESTORE TABLE r FROM '{root}-bk'",
        ("t", "r"), ((KV, ROWS), None), ((KV, ROWS), (KV, ROWS)),
        [("makedirs", 2), ("dump", 1)], 0, 2,
    ),
    "replace_view": Case(
        BASE + [INC_VIEW],
        "CREATE OR REPLACE VIEW iv UPDATE BY Summing ORDER BY (k) AS "
        "SELECT k, v * 2 AS v FROM t",
        "iv", (KV, ROWS), (KV, [(1, 20), (2, 40), (3, 60)]),
        [("parquet", 1), ("dump", 1)], 2, 2,
    ),
    # a sidecar-only ALTER: the rows read the same, the sidecars differ
    "add_constraint": Case(
        BASE, "ALTER TABLE t ADD CONSTRAINT pos CHECK v > 0",
        "t", (KV, ROWS), (KV, ROWS), ("dump", 1), 1, 1,
    ),
}

PARAMS = [(name, step) for name, c in CASES.items() for step in c.steps()]

# A step that fails before the commit point leaves the case's objects
# as set up, and every statement can run on them again, so the case's
# next step reuses the catalog.
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


def _read_all(eng, objs):
    return tuple(_read(eng, o) for o in objs)


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
            eng.sql(s.format(root=root))
        assert _read_all(eng, c.objs) == c.before
    if step.startswith("write"):
        target, n = c.writes[int(step[5:] or 0)]
    elif step.startswith("aside"):
        target, n = "move", 1 + int(step[5:])
    elif step.startswith("in"):
        target, n = "move", c.asides + 1 + int(step[2:])
    else:
        target, n = "remove", 1
    sidecars = [eng.catalog._load_meta(o) for o in c.objs]
    fault = _Fault(monkeypatch, target, n)
    committed = step == "drop_asides"
    stmt = c.stmt.format(root=root)
    if committed:
        # past the commit point a failed delete is left to the sweep
        eng.sql(stmt)
    else:
        with pytest.raises(type(fault.err), match="simulated"):
            eng.sql(stmt)
    monkeypatch.undo()
    assert fault.fired
    expected = c.after if committed else c.before
    assert _read_all(eng, c.objs) == expected
    if not committed:
        assert _commit_entries(root) == []
        # a view's rewritten query and a table's constraints roll back
        assert [eng.catalog._load_meta(o) for o in c.objs] == sidecars
    fresh = _engine(spark, root)
    assert _read_all(fresh, c.objs) == expected
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


def test_killed_exchange_rolls_back_on_next_open(spark, tmp_path):
    """A process that dies between the move-ins of an EXCHANGE leaves
    both tables and both views aside or half moved in; the next open
    gives back each one as it was, its view still over it."""
    eng = _engine(spark, tmp_path)
    for s in BASE + [INC_VIEW] + U:
        eng.sql(s)
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {REPO!r})
        import nutdb_spark.catalog as cat
        from nutdb_spark.frontend.parser import parse

        moves = []
        real = cat._move

        def move(src, dst):
            moves.append(src)
            if len(moves) == 9:  # the six asides and two move-ins done
                os._exit(3)
            real(src, dst)

        cat._move = move
        stmt = parse("EXCHANGE TABLES t AND u")
        cat.Catalog(None, {str(tmp_path)!r}).exchange(stmt.a, stmt.b)
        """
    )
    proc = subprocess.run([sys.executable, "-c", script], timeout=120)
    assert proc.returncode == 3
    assert _commit_entries(tmp_path)  # the dead process left its commit
    fresh = _engine(spark, tmp_path)
    objs = ("t", "u", "iv", "uv")
    assert _read_all(fresh, objs) == ((KV, ROWS), (KV, U_ROWS)) * 2
    assert _commit_entries(tmp_path) == []
    fresh.sql("INSERT INTO t VALUES (1, 5)")
    assert _read(fresh, "iv") == (KV, [(1, 15), (2, 20), (3, 30)])


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


# --- one commit for a table and its views ---------------------------------


def test_update_with_rand_keeps_view_equal_to_table(spark, tmp_path):
    """A rewrite whose plan is not deterministic is evaluated once: the
    view is derived from the staged table files, not from a second run
    of the rewrite."""
    eng = _engine(spark, tmp_path)
    for s in BASE + [INC_VIEW, FULL_VIEW]:
        eng.sql(s)
    eng.sql("ALTER TABLE t UPDATE v = toInt64(rand() % 1000) WHERE k >= 2")
    table = _read(eng, "t")
    assert table[1][0] == (1, 10)
    for view in ("iv", "fv"):
        assert _read(eng, view) == table


NOW_STMTS = {
    "insert_values": "INSERT INTO e VALUES (3, now())",
    "insert_select": "INSERT INTO e SELECT k + 10, now() FROM e",
    "update": "ALTER TABLE e UPDATE ts = now() WHERE k >= 2",
}


@pytest.mark.parametrize("name", list(NOW_STMTS))
def test_now_keeps_views_equal_to_table(spark, tmp_path, name):
    """``now()`` is fixed within one query but not across queries: the
    views take the table's stored timestamps, not a second ``now()``."""
    eng = _engine(spark, tmp_path)
    for s in [
        "CREATE TABLE e (k Int64, ts Datetime) ORDER BY (k)",
        "INSERT INTO e VALUES (1, '2020-01-01 00:00:00'), "
        "(2, '2020-01-02 00:00:00')",
        "CREATE VIEW er UPDATE BY Replacing PRIMARY KEY (ts) ORDER BY (k) "
        "AS SELECT k, ts FROM e",
        "CREATE VIEW ea UPDATE BY Aggregating ORDER BY (k) "
        "AS SELECT k, max(ts) AS ts FROM e GROUP BY k",
        "CREATE VIEW ef UPDATE BY Summing ORDER BY (k) "
        "AS SELECT k, max(ts) AS ts FROM e GROUP BY k",
    ]:
        eng.sql(s)
    maintenance = [
        eng.catalog._load_meta(v)["maintenance"] for v in ("er", "ea", "ef")
    ]
    assert maintenance == ["incremental", "incremental", "full"]
    eng.sql(NOW_STMTS[name])
    table = _read(eng, "e")
    for view in ("er", "ea", "ef"):
        assert _read(eng, view) == table


def test_insert_refreshes_full_view_of_expression_partitioned_table(
    spark, tmp_path
):
    eng = _engine(spark, tmp_path)
    eng.sql("CREATE TABLE t (k Int64, v Int64) PARTITION BY k % 2")
    eng.sql(FULL_VIEW)
    eng.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    eng.sql("INSERT INTO t VALUES (3, 30), (1, 5)")
    assert _read(eng, "t") == (KV, sorted(ROWS + [(1, 5)]))
    assert _read(eng, "fv") == (KV, ROWS)


@pytest.mark.parametrize("part,gone", [("k % 2", 0), ("k", 2)])
def test_drop_partition_keeps_view_columns(spark, tmp_path, part, gone):
    """The views over a table are derived from its surviving partitions
    with the table's own columns, in order: no partition column moves
    and no ``__part`` column appears."""
    eng = _engine(spark, tmp_path)
    for s in [
        f"CREATE TABLE t (k Int64, v Int64) PARTITION BY {part}",
        BASE[1],
        # LIMIT keeps the view a full one
        "CREATE VIEW fa UPDATE BY Summing ORDER BY (k) AS "
        "SELECT * FROM t LIMIT 100",
        INC_VIEW,
    ]:
        eng.sql(s)
    assert eng.catalog._load_meta("fa")["maintenance"] == "full"
    eng.sql(f"ALTER TABLE t DROP PARTITION {gone}")
    after = (KV, [(1, 10), (3, 30)])
    assert _read(eng, "t") == _read(eng, "fa") == _read(eng, "iv") == after


def test_view_jobs_run_under_the_statement_job_group(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    for s in BASE + [INC_VIEW, FULL_VIEW]:
        eng.sql(s)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("one-commit", "ALTER TABLE t DELETE")
    try:
        eng.sql("ALTER TABLE t DELETE WHERE k = 2")
    finally:
        sc._jsc.clearJobGroup()
    # the table write and both view writes, each at least one job
    assert len(tracker.getJobIdsForGroup("one-commit")) >= 3
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert _read(eng, "iv") == _read(eng, "fv") == (KV, [(1, 10), (3, 30)])


ONE_COMMIT = {
    "update": "ALTER TABLE t UPDATE v = v + 1 WHERE k = 2",
    "delete": "ALTER TABLE t DELETE WHERE k = 2",
    "add_column": "ALTER TABLE t ADD COLUMN w Int64 DEFAULT 7",
    "modify_column": "ALTER TABLE t MODIFY COLUMN v Int64",
    "drop_partition": "ALTER TABLE t DROP PARTITION 2",
    "merge": "MERGE INTO t USING s ON t.k = s.k "
    "WHEN MATCHED THEN UPDATE SET v = s.v "
    "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)",
    "optimize": "OPTIMIZE TABLE t FINAL",
    "truncate": "TRUNCATE TABLE t",
    "insert": "INSERT INTO t VALUES (4, 40), (5, 50)",
}


@pytest.mark.parametrize("name", list(ONE_COMMIT))
def test_writing_statement_is_one_commit(spark, tmp_path, monkeypatch, name):
    eng = _engine(spark, tmp_path)
    for s in [
        "CREATE TABLE t (k Int64, v Int64) ORDER BY (k) PARTITION BY k",
        BASE[1],
        "CREATE TABLE s (k Int64, v Int64)",
        "INSERT INTO s VALUES (2, 99), (5, 50)",
        INC_VIEW,
        FULL_VIEW,
    ]:
        eng.sql(s)
    calls = []
    real = cat.commit

    def counted(parent, names, write=None):
        def staged(new):
            more = write(new)
            calls.append([*names, *(more or ())])
            return more

        real(parent, names, staged)

    monkeypatch.setattr(cat, "commit", counted)
    eng.sql(ONE_COMMIT[name])
    monkeypatch.undo()
    # the table's entries and both views' (an incremental view's
    # touched buckets, when rows are only added)
    assert len(calls) == 1
    assert {n.split(os.sep)[0] for n in calls[0]} >= {"t", "iv", "fv"}
    # one row per key, so each view equals the table's (k, v)
    kv = sorted((r[0], r[1]) for r in eng.sql("SELECT k, v FROM t").collect())
    assert _read(eng, "iv") == _read(eng, "fv") == (KV, kv)


# --- the statements that rename or re-create an object --------------------


def test_rename_onto_existing_name_raises(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    for s in BASE + U:
        eng.sql(s)
    for stmt in ("RENAME TABLE t TO u", "ALTER TABLE t RENAME TO uv"):
        with pytest.raises(CatalogError, match="already exists"):
            eng.sql(stmt)
    with pytest.raises(CatalogError, match="twice"):
        eng.sql("RENAME TABLE t TO w, u TO w")
    fresh = _engine(spark, tmp_path)
    assert _read_all(fresh, ("t", "u", "uv")) == (
        (KV, ROWS), (KV, U_ROWS), (KV, U_ROWS)
    )
    assert _read(fresh, "w") is None


def test_failed_replace_view_keeps_old_view(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    for s in BASE + [INC_VIEW]:
        eng.sql(s)
    with pytest.raises(LoweringError, match="unknown table"):
        eng.sql(
            "CREATE OR REPLACE VIEW iv UPDATE BY Summing ORDER BY (k) AS "
            "SELECT k, v FROM nope"
        )
    assert _read(eng, "iv") == (KV, ROWS)
    eng.sql("INSERT INTO t VALUES (1, 5)")
    assert _read(_engine(spark, tmp_path), "iv") == (
        KV, [(1, 15), (2, 20), (3, 30)]
    )


def test_exchange_keeps_rows_of_views_over_both_tables(spark, tmp_path):
    """A view over both tables follows each table's data through the
    swap, the columns it qualifies with a table's name included."""
    eng = _engine(spark, tmp_path)
    for s in BASE + U[:2] + [
        "INSERT INTO u VALUES (1, 100)",
        "CREATE VIEW j AS SELECT t.k AS k, t.v AS tv, u.v AS uv "
        "FROM t JOIN u ON t.k = u.k",
        "CREATE VIEW tu UPDATE BY Summing ORDER BY (k) AS "
        "SELECT k, v FROM t UNION ALL SELECT k, v FROM u",
    ]:
        eng.sql(s)
    before = _read_all(eng, ("j", "tu"))
    assert before[0] == (["k", "tv", "uv"], [(1, 10, 100)])
    eng.sql("EXCHANGE TABLES t AND u")
    assert _read(eng, "t") == (KV, [(1, 100), (7, 70)])
    assert _read_all(eng, ("j", "tu")) == before
    eng.sql("INSERT INTO u VALUES (2, 5)")  # u holds t's rows now
    assert _read(_engine(spark, tmp_path), "tu") == (
        KV, [(1, 110), (2, 25), (3, 30), (7, 70)]
    )


def test_rename_of_several_tables_is_one_commit(spark, tmp_path, monkeypatch):
    eng = _engine(spark, tmp_path)
    for s in BASE + [INC_VIEW] + U:
        eng.sql(s)
    calls = []
    real = cat.commit

    def counted(parent, names, write=None):
        calls.append(names)
        real(parent, names, write)

    monkeypatch.setattr(cat, "commit", counted)
    eng.sql("RENAME TABLE t TO t2, u TO u2")
    monkeypatch.undo()
    assert len(calls) == 1
    assert set(calls[0]) >= {"t", "t2", "u", "u2", "iv.json", "uv.json"}
    assert _read_all(eng, ("t", "u")) == (None, None)
    assert _read_all(eng, ("t2", "u2", "iv", "uv")) == (
        (KV, ROWS), (KV, U_ROWS)
    ) * 2
    eng.sql("INSERT INTO u2 VALUES (7, 1)")
    assert _read(eng, "uv") == (KV, [(7, 71)])


# --- recover leaves a live commit alone -----------------------------------


def test_recover_inside_a_commit_keeps_it(spark, tmp_path, monkeypatch):
    """Opening the catalog while a commit of this process stages (or an
    INSERT stages its rows) leaves that commit to finish."""
    eng = _engine(spark, tmp_path)
    for s in BASE:
        eng.sql(s)
    real = cat.Catalog._write_table

    def write_then_open(self, *a, **kw):
        real(self, *a, **kw)
        _engine(spark, tmp_path)

    monkeypatch.setattr(cat.Catalog, "_write_table", write_then_open)
    eng.sql("ALTER TABLE t UPDATE v = v + 1 WHERE k = 2")
    eng.sql("INSERT INTO t VALUES (4, 40)")
    monkeypatch.undo()
    after = (KV, [(1, 10), (2, 21), (3, 30), (4, 40)])
    assert _read(eng, "t") == after
    assert _read(_engine(spark, tmp_path), "t") == after
    assert _commit_entries(tmp_path) == []


def test_recover_finishes_a_commit_without_a_lock(spark, tmp_path):
    """A commit written before commits took locks, whose process died
    with the live table moved aside, is rolled back on the next open."""
    eng = _engine(spark, tmp_path)
    for s in BASE:
        eng.sql(s)
    root, cid = str(tmp_path), "0" * 32
    old = cat._entry(root, cid, "old")
    os.makedirs(cat._entry(root, cid, "new"))
    os.makedirs(old)
    cat._dump(cat._entry(root, cid, "plan"), {"t": True})
    os.rename(os.path.join(root, "t"), os.path.join(old, "t"))
    assert not os.path.exists(cat._entry(root, cid, "lock"))
    assert _read(_engine(spark, tmp_path), "t") == (KV, ROWS)
    assert _commit_entries(tmp_path) == []


def test_second_process_opening_mid_commit_keeps_it(tmp_path):
    """Another process opening the catalog while a commit stages skips
    it: the commit's lock is held."""
    os.makedirs(tmp_path / "t")
    (tmp_path / "t" / "old").write_text("old")
    opener = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from nutdb_spark.catalog import Catalog

        Catalog(None, {str(tmp_path)!r})
        """
    )

    def write(staged):
        os.makedirs(os.path.join(staged, "t"))
        with open(os.path.join(staged, "t", "new"), "w") as f:
            f.write("new")
        assert _commit_entries(tmp_path)
        subprocess.run([sys.executable, "-c", opener], timeout=120, check=True)
        assert os.path.exists(os.path.join(staged, "t", "new"))

    cat.commit(str(tmp_path), ["t"], write)
    assert os.listdir(tmp_path / "t") == ["new"]
    assert _commit_entries(tmp_path) == []
