"""lakehouse_rw: reads beside writes on TPC-H-shaped tables whose working
set fits in the engine's caches.

Six tables are built from seeded ``orders`` and ``lineitem`` data with the
engine's own ``CREATE TABLE ... AS`` (Delta, Iceberg, Hudi and
hive-partitioned parquet).  One client runs blocks of ten ops: eight reads
(scans, aggregates, a join, a point lookup) through ``engine.sql`` and
``toArrow()``, and two writes (INSERT, UPDATE, MERGE of 1-10% of rows,
DELETE, and an OPTIMIZE every fourth block).  Every write invalidates its
table's cached walk, so the next read re-walks a log that grows over the
run.

A DuckDB shadow holds each table's logical rows; each write is applied to
it too, and every read is checked against the same query on the shadow.
At the end a fresh engine with cold caches re-reads every table as a
durability pass.

Money and quantities are integers, so every aggregate compares exactly.
The data is generated rather than read from the repository's shared
TPC-H testdata because the benchmark reads only inside its checkout; the
scale (``SCALE``) keeps a block near ten seconds on four cores so a run
holds several blocks.

``run.py`` builds the tables of a seed on first use, in a process of its
own (``python3 perfbench/lakehouse_rw.py --build <dir> --live <dir> --seed
N``), and keeps a pristine copy that every run restores.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
from pathlib import Path

GEN_VERSION = 1
#: TPC-H scale factor of the generated data (sf1 = 1.5M orders)
SCALE = 0.02
DB = "lh"
#: name -> (format, source table, partition column)
TABLES = {
    "orders_delta": ("delta", "orders", None),
    "orders_iceberg": ("iceberg", "orders", None),
    "orders_hudi": ("hudi", "orders", None),
    "lineitem_delta": ("delta", "lineitem", "l_shipyear"),
    "lineitem_iceberg": ("iceberg", "lineitem", "l_shipyear"),
    "lineitem_hive": ("parquet", "lineitem", "l_shipyear"),
}
WRITABLE = [t for t, (fmt, _s, _p) in TABLES.items() if fmt != "parquet"]
#: the two writes of block b are WRITE_CYCLE[b % 4]
WRITE_CYCLE = (
    ("insert", "update"), ("merge", "delete"),
    ("update", "insert"), ("delete", "optimize"),
)
#: key, money and update columns per source table
COLS = {
    "orders": ("o_orderkey", "o_totalcents", "o_totalcents"),
    "lineitem": ("l_orderkey", "l_pricecents", "l_quantity"),
}
ORDER_COLS = ("o_orderkey", "o_custkey", "o_status", "o_totalcents",
              "o_orderdate", "o_priority")
LINE_COLS = ("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
             "l_pricecents", "l_discount_pct", "l_returnflag", "l_shipdate",
             "l_shipyear")
#: base keys stay below this; write k shifts keys by 2**k * KEY_SPAN, so
#: every key a run creates is distinct
KEY_SPAN = 10**6
MAX_WRITES = 40


def generate(seed: int, out: Path) -> None:
    """Seeded TPC-H-shaped orders and lineitem parquet files."""
    import datetime

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = int(1_500_000 * SCALE)
    base = datetime.date(1992, 1, 1)
    days = rng.integers(0, 2400, n)
    odate = [(base + datetime.timedelta(days=int(d))).isoformat() for d in days]
    orders = pa.table({
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n // 10 + 1, n),
        "o_status": rng.choice(["O", "F", "P"], n),
        "o_totalcents": rng.integers(1_000, 5_000_000, n),
        "o_orderdate": odate,
        "o_priority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    lines = rng.integers(1, 8, n)
    m = int(lines.sum())
    okey = np.repeat(np.arange(1, n + 1, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(
        np.int32)
    ship = np.repeat(days, lines) + rng.integers(1, 121, m)
    sdate = [base + datetime.timedelta(days=int(d)) for d in ship]
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_linenumber": lnum,
        "l_partkey": rng.integers(1, n // 5 + 1, m),
        "l_quantity": rng.integers(1, 51, m),
        "l_pricecents": rng.integers(100, 10_000_000, m),
        "l_discount_pct": rng.integers(0, 11, m),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_shipdate": [d.isoformat() for d in sdate],
        "l_shipyear": np.array([d.year for d in sdate], dtype=np.int64),
    })
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(orders, out / "orders.parquet")
    pq.write_table(lineitem, out / "lineitem.parquet")


def build(root: Path, live: Path, seed: int) -> None:
    """Build the six tables at ``live`` with the engine's CTAS, then keep
    a pristine copy under ``root``.  Iceberg metadata holds absolute
    paths, so runs restore the copy to the same ``live`` path."""
    from glue_table_cache_spark import GlueSparkEngine, LocalMetadataStore

    import run

    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(live, ignore_errors=True)
    src = root / "src"
    generate(seed, src)
    spark = run.start_session(root.parent / "build")
    store = LocalMetadataStore()
    for name in ("orders", "lineitem"):
        store.register_parquet_dir(DB, f"src_{name}", str(src / f"{name}.parquet"))
    engine = GlueSparkEngine(spark, store)
    catalog = {}
    for name, (fmt, source, part) in TABLES.items():
        by = f" PARTITIONED BY ({part})" if part else ""
        engine.sql(
            f"CREATE TABLE glue.{DB}.{name} USING {fmt}{by} "
            f"LOCATION '{live / name}' AS SELECT * FROM glue.{DB}.src_{source}"
        ).collect()
        t = store.get_table(DB, name)
        catalog[name] = {
            "parameters": t.parameters,
            "partition_keys": [k.name for k in t.partition_keys],
        }
    run.stop_session(spark)
    shutil.copytree(live, root / "pristine")
    (root / "catalog.json").write_text(
        json.dumps({"live": str(live), "tables": catalog})
    )


def _dir_files(path: Path) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


def log_entries(path: Path, fmt: str) -> int:
    """Delta commits, Iceberg snapshots or Hudi completed instants."""
    if fmt == "delta":
        return len(list((path / "_delta_log").glob("*.json")))
    if fmt == "iceberg":
        metas = sorted(
            (path / "metadata").glob("*.metadata.json"),
            key=lambda p: p.stat().st_mtime_ns,
        )
        if not metas:
            return 0
        return len(json.loads(metas[-1].read_text()).get("snapshots", []))
    if fmt == "hudi":
        return len([
            p for p in (path / ".hoodie").iterdir()
            if p.suffix in (".commit", ".deltacommit", ".replacecommit")
        ])
    return 0


class Shadow:
    """The tables' logical rows in DuckDB."""

    def __init__(self, src: Path) -> None:
        import duckdb

        self.con = duckdb.connect()
        for name, (_fmt, source, _p) in TABLES.items():
            self.con.execute(
                f"CREATE TABLE {name} AS SELECT * FROM "
                f"read_parquet('{src / (source + '.parquet')}')"
            )

    def rows(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql).fetchall()]

    def count(self, name: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]

    def live_bytes(self, name: str) -> int:
        return self.con.execute(f"SELECT * FROM {name}").arrow().nbytes


def _local(sql: str) -> str:
    return sql.replace(f"glue.{DB}.", "")


class Stream:
    """The op sequence: SQL text and the shadow statements that mirror it.

    The schedule (templates, formats, op order, write fractions) is the
    same for every seed; the seed picks the literals (date windows, years,
    customers, key residues), and the seed's data supplies the rows, so
    runs of different seeds do alike work."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.plan = random.Random(0)
        self.writes = 0

    def _dates(self) -> tuple[str, str]:
        import datetime

        d = datetime.date(1992, 1, 1) + datetime.timedelta(
            days=self.rng.randrange(2000))
        return d.isoformat(), (d + datetime.timedelta(days=365)).isoformat()

    def reads(self, shuffle: bool = True) -> list[str]:
        rng = self.rng
        out = []
        for fmt in ("delta", "iceberg", "hudi"):
            d1, d2 = self._dates()
            out.append(
                "SELECT o_status, count(*) AS n, sum(o_totalcents) AS s "
                f"FROM glue.{DB}.orders_{fmt} WHERE o_orderdate >= '{d1}' "
                f"AND o_orderdate < '{d2}' GROUP BY o_status ORDER BY o_status"
            )
        for fmt in ("delta", "iceberg", "hive"):
            y = rng.randrange(1992, 1999)
            out.append(
                "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q, "
                "sum(l_pricecents * (100 - l_discount_pct)) AS r "
                f"FROM glue.{DB}.lineitem_{fmt} WHERE l_shipyear = {y} "
                f"AND l_shipdate <= '{y}-{rng.randrange(1, 13):02d}-15' "
                "GROUP BY l_returnflag ORDER BY l_returnflag"
            )
        d1, d2 = self._dates()
        fo = self.plan.choice(("delta", "iceberg", "hudi"))
        fl = self.plan.choice(("delta", "iceberg", "hive"))
        out.append(
            "SELECT o.o_priority, count(*) AS n, sum(l.l_quantity) AS q "
            f"FROM glue.{DB}.orders_{fo} o JOIN glue.{DB}.lineitem_{fl} l "
            "ON o.o_orderkey = l.l_orderkey "
            f"WHERE o.o_orderdate >= '{d1}' AND o.o_orderdate < '{d2}' "
            "GROUP BY o.o_priority ORDER BY o.o_priority"
        )
        fo = self.plan.choice(("delta", "iceberg", "hudi"))
        out.append(
            "SELECT count(*) AS n, sum(o_totalcents) AS s "
            f"FROM glue.{DB}.orders_{fo} WHERE o_custkey = "
            f"{rng.randrange(1, int(150_000 * SCALE) + 1)}"
        )
        if shuffle:
            self.plan.shuffle(out)
        return out

    def write(self, kind: str, table: str) -> tuple[str, list[str]]:
        """(engine SQL, shadow statements) of one write."""
        source = TABLES[table][1]
        key, _money, col = COLS[source]
        cols = ORDER_COLS if source == "orders" else LINE_COLS
        m = self.plan.randrange(10, 101)
        r = self.rng.randrange(m)
        off = 2 ** self.writes * KEY_SPAN
        self.writes += 1
        where = f"{key} % {m} = {r}"
        t = f"glue.{DB}.{table}"
        if kind == "insert":
            sel = ", ".join(f"{c} + {off}" if c == key else c for c in cols)
            sql = f"INSERT INTO {t} SELECT {sel} FROM {t} WHERE {where}"
            return sql, [_local(sql)]
        if kind == "update":
            sql = f"UPDATE {t} SET {col} = {col} + 7 WHERE {where}"
            return sql, [_local(sql)]
        if kind == "delete":
            # 1-3% of rows, so tables do not drain over a run
            where = f"{key} % {m + 30} = {r}"
            sql = f"DELETE FROM {t} WHERE {where}"
            return sql, [_local(sql)]
        if kind == "optimize":
            return f"OPTIMIZE {t}", []
        # merge: even keys match and update, odd keys are shifted and insert
        sel = ", ".join(
            f"CASE WHEN {key} % 2 = 0 THEN {key} ELSE {key} + {off} END "
            f"AS {key}" if c == key
            else f"{c} + 1 AS {c}" if c == col else c
            for c in cols
        )
        on = f"t.{key} = s.{key}"
        if source == "lineitem":
            on += " AND t.l_linenumber = s.l_linenumber"
        src = f"SELECT {sel} FROM {t} WHERE {where}"
        sql = (
            f"MERGE INTO {t} AS t USING ({src}) s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {col} = s.{col} "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        local_on = on.replace("t.", f"{table}.")
        shadow = [
            f"CREATE TEMP TABLE merge_src AS {_local(src)}",
            f"UPDATE {table} SET {col} = s.{col} FROM merge_src s "
            f"WHERE {local_on}",
            f"INSERT INTO {table} SELECT * FROM merge_src s WHERE NOT EXISTS "
            f"(SELECT 1 FROM {table} WHERE {local_on})",
            "DROP TABLE merge_src",
        ]
        return sql, shadow


class Workload:
    clients = 1
    tail_q = 0.75
    #: the durability pass reads every table once
    final_checks = len(TABLES)

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.root = work / "lakehouse_rw" / f"seed{seed}_v{GEN_VERSION}"
        self.setups = 0
        self.live = work / "lakehouse_rw" / "live"

    def prepare(self) -> None:
        marker = self.root / "catalog.json"
        if not marker.exists() or json.loads(
                marker.read_text())["live"] != str(self.live):
            # a process of its own: the build must not warm the JVM that
            # the run then measures
            log = self.work / "lakehouse_rw" / "build.log"
            log.parent.mkdir(parents=True, exist_ok=True)
            with log.open("w") as fh:
                subprocess.run(
                    [sys.executable, __file__, "--build", str(self.root),
                     "--live", str(self.live), "--seed", str(self.seed)],
                    check=True, stdout=fh, stderr=subprocess.STDOUT,
                    timeout=600,
                )
        self.catalog = json.loads(marker.read_text())["tables"]
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.root / "pristine", self.live)
        self.shadow = Shadow(self.root / "src")
        self.row_bytes = {
            t: self.shadow.live_bytes(t) / self.shadow.count(t)
            for t in TABLES
        }
        self.write_log: list[dict] = []
        self._before: dict[str, int] = {}

    def _engine(self, spark, store):
        from glue_table_cache_spark import GlueSparkEngine

        return GlueSparkEngine(spark, store, filesystem=self.fs)

    def _store(self):
        from glue_table_cache_spark import LocalMetadataStore
        from glue_table_cache_spark.catalog import CatalogTable, PartitionKey

        store = LocalMetadataStore()
        for name, spec in self.catalog.items():
            store.register_table(CatalogTable(
                DB, name, str(self.live / name),
                [PartitionKey(k) for k in spec["partition_keys"]],
                dict(spec["parameters"]),
            ))
        return store

    def setup(self, spark) -> None:
        import harness

        self.spark = spark
        self.store = harness.CountingStore(self._store())
        self.fs = harness.CountingFileSystem(
            {str(self.live / t): t for t in TABLES})
        self.engine = self._engine(spark, self.store)
        # warm-up: the Delta orders aggregate and the hive lineitem
        # aggregate; the first set-up, in a fresh JVM, runs the aggregate on
        # every table, so no read path loads its classes inside the timed
        # loop
        warm = Stream(self.seed + 10**6).reads(shuffle=False)
        self.setups += 1
        sqls = warm[:len(TABLES)] if self.setups == 1 else [warm[0], warm[5]]
        for sql in sqls:
            op = self._read(sql)
            err = op.check(op.action(op.call()))
            if err is not None:
                raise RuntimeError(f"warm-up read failed its check: {err}")

    def _read(self, sql: str):
        import harness

        tables = tuple(
            t for t in TABLES if f"glue.{DB}.{t} " in sql + " "
        )

        def check(tbl):
            got = [tuple(r.values()) for r in tbl.to_pylist()]
            want = self.shadow.rows(_local(sql))
            return None if got == want else f"expected {want}, got {got}"

        return harness.Op(
            kind="read", label=sql,
            call=lambda: self.engine.sql(sql),
            action=lambda df: df.toArrow(),
            check=check,
            refs=len(tables),
            listing_refs=sum(TABLES[t][0] != "parquet" for t in tables),
            tables=tables,
        )

    def _write(self, kind: str, table: str, sql: str, shadow: list[str]):
        import harness

        return harness.Op(
            kind="write", label=sql,
            call=lambda: self.engine.sql(sql),
            # the engine returns its one-row summary
            action=lambda df: df.toArrow(),
            check=lambda out: None,
            refs=1, listing_refs=1, tables=(table,), writes=(table,),
            payload=shadow,
        )

    def streams(self):
        def stream():
            s = Stream(self.seed)
            block = 0
            while s.writes + 2 <= MAX_WRITES:
                reads = [self._read(q) for q in s.reads()]
                writes = []
                for j, kind in enumerate(WRITE_CYCLE[block % 4]):
                    table = WRITABLE[(2 * block + j) % len(WRITABLE)]
                    sql, shadow = s.write(kind, table)
                    writes.append(self._write(kind, table, sql, shadow))
                # writes land at fixed slots: after the 4th and 8th read
                yield reads[:4] + writes[:1] + reads[4:] + writes[1:]
                block += 1

        return [stream()]

    def before_op(self, op) -> None:
        if op.writes:
            self._before = _dir_files(self.live / op.writes[0])

    def after_op(self, op, rec) -> None:
        """Outside the op's timed window: apply a successful write to the
        shadow and record what it wrote."""
        if not op.writes or rec.error is not None:
            return
        changed = 0
        for stmt in op.payload:
            res = self.shadow.con.execute(stmt).fetchall()
            if stmt.startswith(("INSERT", "UPDATE", "DELETE")) and res:
                changed += res[0][0]
        table = op.writes[0]
        after = _dir_files(self.live / table)
        new = {p: s for p, s in after.items() if p not in self._before}
        self.write_log.append({
            "files": len(new), "bytes": sum(new.values()),
            "changed_bytes": changed * self.row_bytes[table],
        })

    def finish(self, spark, records, wall):
        import harness

        errors = []
        fresh = self._engine(spark, self._store())
        for name, (_fmt, source, _p) in TABLES.items():
            key, money, _col = COLS[source]
            sql = (f"SELECT count(*) AS n, sum({key}) AS k, "
                   f"sum({money}) AS m FROM glue.{DB}.{name}")
            try:
                got = [tuple(r.values())
                       for r in fresh.sql(sql).toArrow().to_pylist()]
            except Exception as exc:  # noqa: BLE001 - a failed check is data
                errors.append(f"{name}: {type(exc).__name__}: {exc}")
                continue
            want = self.shadow.rows(_local(sql))
            if got != want:
                errors.append(f"{name}: expected {want}, got {got}")
        ok = [r for r in records if r.error is None]
        reads = [r.latency for r in ok if r.kind == "read"]
        writes = [r.latency for r in ok if r.kind == "write"]
        stored = sum(sum(_dir_files(self.live / t).values()) for t in TABLES)
        live = sum(self.shadow.live_bytes(t) for t in TABLES)
        wl = self.write_log
        nw = max(1, len(wl))
        changed = sum(w["changed_bytes"] for w in wl)
        extra = {
            "read_p50_s": harness.median(reads) if reads else 0.0,
            "read_tail_s": (harness.percentile(reads, self.tail_q)
                            if reads else 0.0),
            "write_p50_s": harness.median(writes) if writes else 0.0,
            "write_tail_s": (harness.percentile(writes, self.tail_q)
                             if writes else 0.0),
            "stored_bytes_per_live_byte": stored / live,
            "sinks.files_written": sum(w["files"] for w in wl) / nw,
            "sinks.bytes_written": sum(w["bytes"] for w in wl) / nw,
            "sinks.write_amp": (sum(w["bytes"] for w in wl) / changed
                                if changed else 0.0),
            "sinks.log_entries": float(sum(
                log_entries(self.live / t, fmt)
                for t, (fmt, _s, _p) in TABLES.items())),
        }
        return errors, extra


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="build lakehouse_rw tables")
    ap.add_argument("--build", required=True)
    ap.add_argument("--live", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    build(Path(a.build), Path(a.live), a.seed)
