"""catalog_lookup: a planning-bound SQL stream over a catalog larger than
the engine's caches.

The seeded catalog holds ``N_TABLES`` tables (more than the default
100-entry ``max_entries`` of each LRU cache) across every read path the
engine has: hive-partitioned, partition-projection, unpartitioned,
Delta, Iceberg and Hudi.  Every data file is a hard link of one tiny
parquet file, so a table has only a handful of rows per file but hundreds
to thousands of files, partitions, commits or manifests, and the build
takes seconds.  Rows per file are fixed, so every query's answer is known
by construction.

Table metadata follows the package's own fixture formats: Delta commits
are JSON-lines ``add``/``remove`` actions and the tail table's multi-part
checkpoint is written by ``delta_fixture._write_checkpoint``; Iceberg
manifests and manifest lists use ``iceberg_fixture``'s Avro schemas and
``avro_lite.write_avro``; Hudi instants use ``hudi_fixture``'s
``partitionToWriteStats`` commit shape.  The fixture builders themselves
write one Spark-produced file per add, which would make a 100k-file
catalog take minutes, so only their formats and helpers are reused.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import shutil
from dataclasses import dataclass, field
from pathlib import Path

#: bump when the generated catalog changes shape: cached builds are keyed
#: by (seed, GEN_VERSION)
GEN_VERSION = 3
N_TABLES = 250
DB = "cat"
#: rows of the shared data file: (id, v)
ROWS = ((1, 10), (2, 20), (3, 30), (4, 40))
#: format of the table at popularity rank r is FORMATS[r % 6], so every
#: seed has the same format mix at every popularity level
FORMATS = ("hive", "delta", "projected", "iceberg", "unpartitioned", "hudi")
#: Zipf exponent of table popularity
ZIPF_S = 1.1
#: tail ranks that hold the large-metadata tables
BIG_DELTA_RANK = 205
BIG_ICEBERG_RANK = 231


@dataclass
class Table:
    name: str
    fmt: str
    location: str
    #: partition date -> live data files in it ("" when unpartitioned)
    files: dict[str, int] = field(default_factory=dict)

    @property
    def partitioned(self) -> bool:
        return self.fmt != "unpartitioned"

    def n_files(self, dates: list[str] | None = None) -> int:
        if dates is None:
            return sum(self.files.values())
        return sum(self.files[d] for d in dates)


@dataclass
class Query:
    """One query of the stream with its exact expected result rows."""

    kind: str  # "agg" | "join"
    sql: str
    tables: tuple[str, ...]
    expected: list[tuple]


def _sizes(rank: int) -> tuple[int, int]:
    """(partitions, files per partition) of the table at popularity
    ``rank``: ~90..1400 files.  Shape depends on the rank only, so every
    seed's catalog costs the same to query; the seed changes names, dates
    and predicates."""
    p = (30, 45, 60, 80, 100, 120)[rank % 6 if rank % 7 else 2]
    f = 3 + (rank * 7) % 9
    return p, f


def _link(src: Path, dst: Path) -> None:
    os.link(src, dst)


def _write_template(path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "id": pa.array([r[0] for r in ROWS], pa.int64()),
                "v": pa.array([r[1] for r in ROWS], pa.int64()),
            }
        ),
        path,
    )


def _stats_json() -> str:
    return json.dumps(
        {
            "numRecords": len(ROWS),
            "minValues": {"id": ROWS[0][0], "v": ROWS[0][1]},
            "maxValues": {"id": ROWS[-1][0], "v": ROWS[-1][1]},
            "nullCount": {"id": 0, "v": 0},
        }
    )


_SCHEMA_FIELDS = [
    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
    {"name": "v", "type": "long", "nullable": True, "metadata": {}},
    {"name": "dt", "type": "string", "nullable": True, "metadata": {}},
]


def _build_plain(t: Table, tpl: Path, dates: list[str], f: int) -> None:
    root = Path(t.location)
    if t.fmt == "unpartitioned":
        root.mkdir(parents=True)
        # few enough files that a full scan stays planning-bound
        n = 2 * len(dates)
        for k in range(n):
            _link(tpl, root / f"part-{k:05d}.parquet")
        t.files[""] = n
        return
    for d in dates:
        sub = root / (d if t.fmt == "projected" else f"dt={d}")
        sub.mkdir(parents=True)
        for k in range(f):
            _link(tpl, sub / f"part-{k:03d}.parquet")
        t.files[d] = f


def _build_delta(
    t: Table, tpl: Path, dates: list[str], f: int, checkpoint: bool
) -> None:
    from glue_table_cache_spark.sources.delta_fixture import (
        _write_checkpoint,
    )

    root = Path(t.location)
    log = root / "_delta_log"
    log.mkdir(parents=True)
    meta = {
        "id": "00000000-0000-0000-0000-000000000000",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {"type": "struct", "fields": _SCHEMA_FIELDS}
        ),
        "partitionColumns": ["dt"],
        "configuration": {},
    }
    stats = _stats_json()
    size = tpl.stat().st_size
    active: dict[str, dict] = {}
    version = 0
    for i, d in enumerate(dates):
        (root / f"dt={d}").mkdir()
        actions: list[dict] = [
            {"commitInfo": {"timestamp": 1700000000000 + version,
                            "operation": "WRITE"}}
        ]
        if version == 0:
            actions.append({"metaData": meta})
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        for k in range(f):
            rel = f"dt={d}/part-{version:05d}-{k:03d}.parquet"
            _link(tpl, root / rel)
            actions.append(
                {"add": {"path": rel, "partitionValues": {"dt": d},
                         "size": size, "modificationTime": 1700000000000,
                         "dataChange": True, "stats": stats}}
            )
            active[rel] = {"dt": d}
        t.files[d] = f
        # every 4th commit also removes one file of an older partition
        # that still holds more than one, so the replay must apply
        # removes to get the live set right
        if i % 4 == 3:
            old = dates[i // 2]
            victim = next(
                p for p in sorted(active) if p.startswith(f"dt={old}/")
            )
            if t.files[old] > 1:
                actions.append(
                    {"remove": {"path": victim,
                                "deletionTimestamp": 1700000000000,
                                "dataChange": True}}
                )
                del active[victim]
                t.files[old] -= 1
        (log / f"{version:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )
        if checkpoint and i == len(dates) - 4:
            _write_checkpoint(
                log, version, active, num_parts=4, metadata=meta,
                active_stats={p: stats for p in active},
            )
            (log / "_last_checkpoint").write_text(
                json.dumps({"version": version, "size": len(active) + 2,
                            "parts": 4})
            )
        version += 1


def _build_iceberg(
    t: Table, tpl: Path, dates: list[str], f: int, per_manifest: int
) -> None:
    from glue_table_cache_spark.skipping import encode_iceberg_bound
    from glue_table_cache_spark.sources.avro_lite import write_avro
    from glue_table_cache_spark.sources.iceberg_fixture import (
        MANIFEST_ENTRY_SCHEMA,
        MANIFEST_LIST_SCHEMA,
    )

    root = Path(t.location)
    data, meta = root / "data", root / "metadata"
    data.mkdir(parents=True)
    meta.mkdir()
    size = tpl.stat().st_size
    bounds = {
        "lower_bounds": {"1": encode_iceberg_bound("long", ROWS[0][0]),
                         "2": encode_iceberg_bound("long", ROWS[0][1])},
        "upper_bounds": {"1": encode_iceberg_bound("long", ROWS[-1][0]),
                         "2": encode_iceberg_bound("long", ROWS[-1][1])},
        "null_value_counts": {"1": 0, "2": 0},
    }
    manifests: list[tuple[str, int]] = []
    snapshots: list[dict] = []
    groups = [
        dates[i:i + per_manifest] for i in range(0, len(dates), per_manifest)
    ]
    for seq, group in enumerate(groups, start=1):
        entries = []
        for d in group:
            for k in range(f):
                path = data / f"dt={d}" / f"part-{k:03d}.parquet"
                path.parent.mkdir(exist_ok=True)
                _link(tpl, path)
                entries.append(
                    {"status": 1, "snapshot_id": 1000 + seq,
                     "sequence_number": None,
                     "data_file": {
                         "content": 0, "file_path": str(path),
                         "file_format": "PARQUET",
                         "partition": {"dt": d},
                         "record_count": len(ROWS),
                         "file_size_in_bytes": size,
                         "equality_ids": None, **bounds}}
                )
            t.files[d] = f
        mpath = meta / f"manifest-{seq}.avro"
        write_avro(mpath, MANIFEST_ENTRY_SCHEMA, entries)
        manifests.append((str(mpath), seq))
        mlist = meta / f"snap-{seq}.avro"
        write_avro(
            mlist,
            MANIFEST_LIST_SCHEMA,
            [{"manifest_path": p, "manifest_length": 0,
              "partition_spec_id": 0, "content": 0, "sequence_number": s,
              "added_snapshot_id": 1000 + s} for p, s in manifests],
        )
        snapshots.append(
            {"snapshot-id": 1000 + seq, "sequence-number": seq,
             "timestamp-ms": 1700000000000 + seq,
             "manifest-list": str(mlist)}
        )
    n = len(groups)
    (meta / f"v{n}.metadata.json").write_text(
        json.dumps(
            {
                "format-version": 2,
                "table-uuid": "00000000-0000-0000-0000-000000000000",
                "location": str(root),
                "last-sequence-number": n,
                "current-snapshot-id": 1000 + n,
                "current-schema-id": 0,
                "schemas": [{
                    "schema-id": 0, "type": "struct",
                    "fields": [
                        {"id": 1, "name": "id", "required": False,
                         "type": "long"},
                        {"id": 2, "name": "v", "required": False,
                         "type": "long"},
                        {"id": 3, "name": "dt", "required": False,
                         "type": "string"},
                    ],
                }],
                "partition-specs": [{
                    "spec-id": 0,
                    "fields": [{"name": "dt", "transform": "identity",
                                "source-id": 3, "field-id": 1000}],
                }],
                "default-spec-id": 0,
                "snapshots": snapshots,
            }
        )
    )


def _build_hudi(t: Table, tpl: Path, dates: list[str], f: int) -> None:
    root = Path(t.location)
    hoodie = root / ".hoodie"
    hoodie.mkdir(parents=True)
    (hoodie / "hoodie.properties").write_text(
        f"hoodie.table.name={t.name}\nhoodie.table.type=COPY_ON_WRITE\n"
    )
    for i, d in enumerate(dates):
        instant = 20240101000000 + i
        part = f"dt={d}"
        (root / part).mkdir()
        stats = []
        for k in range(f):
            fid = f"fg-{i:04d}-{k:03d}"
            rel = f"{part}/{fid}_0-0-0_{instant}.parquet"
            _link(tpl, root / rel)
            stats.append({"fileId": fid, "path": rel})
        t.files[d] = f
        writes = {part: stats}
        # every 5th instant also rewrites one file group of an older
        # partition: the walk must keep only its latest file slice
        if i % 5 == 4:
            j = i // 2
            old = f"dt={dates[j]}"
            fid = f"fg-{j:04d}-000"
            rel = f"{old}/{fid}_0-0-0_{instant}.parquet"
            _link(tpl, root / rel)
            writes[old] = [{"fileId": fid, "path": rel}]
        (hoodie / f"{instant}.commit").write_text(
            json.dumps({"partitionToWriteStats": writes})
        )


def catalog_dir(work: Path, seed: int) -> Path:
    return work / "catalog_lookup" / f"seed{seed}_v{GEN_VERSION}"


def build_catalog(root: Path, seed: int) -> list[Table]:
    """Write the seeded catalog under ``root`` (a fresh directory) and
    return its tables in popularity order (rank 0 first)."""
    rng = random.Random(seed)
    root.mkdir(parents=True)
    template = root / "template.parquet"
    _write_template(template)
    start = datetime.date(2023, 1, 1) + datetime.timedelta(
        days=rng.randrange(365)
    )
    names = [f"t{k:03d}" for k in range(N_TABLES)]
    rng.shuffle(names)
    tables = []
    for rank in range(N_TABLES):
        fmt = FORMATS[rank % len(FORMATS)]
        if rank == BIG_DELTA_RANK:
            fmt = "delta"
        if rank == BIG_ICEBERG_RANK:
            fmt = "iceberg"
        p, f = _sizes(rank)
        first = start + datetime.timedelta(days=rng.randrange(60))
        dates = [
            (first + datetime.timedelta(days=i)).isoformat() for i in range(p)
        ]
        t = Table(names[rank], fmt, str(root / "tables" / names[rank]))
        # one copy of the template per table: a file's hard-link count
        # is capped (65000 on ext4)
        tpl = root / "templates" / f"{t.name}.parquet"
        tpl.parent.mkdir(exist_ok=True)
        shutil.copyfile(template, tpl)
        if fmt in ("hive", "projected", "unpartitioned"):
            _build_plain(t, tpl, dates, f)
        elif fmt == "delta":
            big = rank == BIG_DELTA_RANK
            if big:
                dates = [
                    (first + datetime.timedelta(days=i)).isoformat()
                    for i in range(400)
                ]
            _build_delta(t, tpl, dates, 5 if big else f, checkpoint=big)
        elif fmt == "iceberg":
            big = rank == BIG_ICEBERG_RANK
            if big:
                dates = [
                    (first + datetime.timedelta(days=i)).isoformat()
                    for i in range(300)
                ]
            # below the engine's 64-manifest distributed-decode gate
            # except for the tail table, which crosses it
            _build_iceberg(t, tpl, dates, 4 if big else f,
                           per_manifest=1 if big else 4)
        else:
            _build_hudi(t, tpl, dates, f)
        tables.append(t)
    return tables


def load_or_build(work: Path, seed: int) -> list[Table]:
    """The catalog for ``seed``, built once and reused from disk."""
    root = catalog_dir(work, seed)
    index = root / "tables.json"
    if not index.exists():
        # Iceberg metadata holds absolute paths, so the build happens in
        # place; the index file is written last and marks it complete
        shutil.rmtree(root, ignore_errors=True)
        tables = build_catalog(root, seed)
        index.write_text(json.dumps([t.__dict__ for t in tables]))
    tables = [Table(**d) for d in json.loads(index.read_text())]
    return tables


def register(store, tables: list[Table]) -> None:
    """Register every table in a ``LocalMetadataStore``."""
    from glue_table_cache_spark.catalog import CatalogTable, PartitionKey

    for t in tables:
        params: dict[str, str] = {}
        keys = [PartitionKey("dt")] if t.partitioned else []
        if t.fmt == "projected":
            params = {
                "projection.enabled": "true",
                "projection.dt.type": "date",
                "projection.dt.format": "yyyy-MM-dd",
                "projection.dt.range": "2023-01-01,2025-12-31",
                "storage.location.template": t.location + "/${dt}",
            }
        elif t.fmt == "delta":
            params = {"spark.sql.sources.provider": "delta"}
        elif t.fmt == "iceberg":
            params = {"table_type": "ICEBERG"}
            keys = []
        elif t.fmt == "hudi":
            params = {"hoodie.table.name": t.name}
        store.register_table(
            CatalogTable(DB, t.name, t.location, keys, params)
        )


def _zipf_cdf(n: int) -> list[float]:
    w = [1.0 / (r + 1) ** ZIPF_S for r in range(n)]
    total = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / total
        out.append(acc)
    return out


def _pick(u: float, cdf: list[float]) -> int:
    import bisect

    return min(bisect.bisect_left(cdf, u), len(cdf) - 1)


#: step of the Weyl sequence behind the popularity draws (the golden
#: ratio's fractional part gives the most even coverage of [0, 1))
_WEYL = 0.6180339887498949


def _draws(start: float):
    """Low-discrepancy uniforms: Weyl steps from ``start``.  Zipf draws
    from them match the popularity curve closely in every run, and the
    same popularity ranks are drawn in the same order for every seed, so
    the number of distinct (cold) tables a run touches, and which large
    tables it meets, do not vary with the seed."""
    u = start
    while True:
        yield u
        u = (u + _WEYL) % 1.0


def _predicate(
    rng: random.Random, t: Table, alias: str
) -> tuple[str, list[int], int]:
    """A WHERE conjunct on ``t`` (qualified by ``alias``), the row ids it
    keeps and the files it selects: a 1-3 day partition window on
    partitioned tables, an id cut on unpartitioned ones."""
    if not t.partitioned:
        k = rng.randint(1, len(ROWS))
        return f"{alias}.id <= {k}", [i for i, _ in ROWS[:k]], t.n_files()
    dates = sorted(t.files)
    w = rng.randint(1, 3)
    s = rng.randrange(len(dates) - w + 1)
    sel = dates[s:s + w]
    return (
        f"{alias}.dt >= '{sel[0]}' AND {alias}.dt <= '{sel[-1]}'",
        [i for i, _ in ROWS],
        t.n_files(sel),
    )


#: op kinds of one block, in two halves; slot i of a half reads a table of
#: format FORMATS[i] (a join's second table: FORMATS[(i + 3) % 6]), so a
#: block has each format once as an aggregate and once as a join's first
#: table
BLOCK = (("agg", "join") * 3, ("join", "agg") * 3)


def _agg(rng: random.Random, t: Table) -> Query:
    where, ids, files = _predicate(rng, t, t.name)
    vals = dict(ROWS)
    return Query(
        "agg",
        f"SELECT count(*) AS n, sum(v) AS s FROM glue.{DB}.{t.name} "
        f"{t.name} WHERE {where}",
        (t.name,),
        [(files * len(ids), files * sum(vals[i] for i in ids))],
    )


def op_stream(tables: list[Table], client: int):
    """Endless stream of op blocks of one client: partition-selective
    aggregates and two-table joins.  Within its slot's format a table is
    drawn by Zipf popularity.  Predicates sit in the top-level WHERE,
    qualified by the table's own name, which is where the engine looks for
    prunable conjuncts.

    The schedule (popularity ranks, window positions and lengths, op
    order) is the same for every seed; the seed's catalog supplies the
    table names and dates, so every query text changes with the seed while
    the work a run does stays alike and runs of different seeds compare."""
    rng = random.Random(1000 + client)
    by_fmt = {f: [t for t in tables if t.fmt == f] for f in FORMATS}
    cdfs = {f: _zipf_cdf(len(ts)) for f, ts in by_fmt.items()}
    us = {f: _draws((0.1 + 0.37 * client + 0.13 * k) % 1.0)
          for k, f in enumerate(FORMATS)}
    vals = dict(ROWS)

    def draw(fmt: str, other: Table | None = None) -> Table:
        while True:
            t = by_fmt[fmt][_pick(next(us[fmt]), cdfs[fmt])]
            if t is not other:
                return t

    while True:
        block = []
        for half in BLOCK:
            for i, kind in enumerate(half):
                a = draw(FORMATS[i])
                if kind == "agg":
                    block.append(_agg(rng, a))
                    continue
                b = draw(FORMATS[(i + 3) % len(FORMATS)], a)
                wa, ia, fa = _predicate(rng, a, a.name)
                wb, ib, fb = _predicate(rng, b, b.name)
                block.append(Query(
                    "join",
                    f"SELECT {a.name}.id, count(*) AS n, "
                    f"sum({b.name}.v) AS s FROM glue.{DB}.{a.name} {a.name} "
                    f"JOIN glue.{DB}.{b.name} {b.name} "
                    f"ON {a.name}.id = {b.name}.id WHERE {wa} AND {wb} "
                    f"GROUP BY {a.name}.id ORDER BY {a.name}.id",
                    (a.name, b.name),
                    [(i, fa * fb, fa * fb * vals[i]) for i in ia if i in ib],
                ))
        rng.shuffle(block)
        yield block


#: listing-cached read paths (hive and unpartitioned scans are native)
LISTING_FORMATS = ("projected", "delta", "iceberg", "hudi")


class Workload:
    """One client on one engine.  A second client thread would run ops
    side by side on four cores, and each op's latency would then depend on
    which op the other thread happened to be running."""

    clients = 1
    #: tail percentile reported as op_tail_s
    tail_q = 0.75
    final_checks = 0

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.tables: list[Table] = []
        self.setups = 0

    def prepare(self) -> None:
        self.tables = load_or_build(self.work, self.seed)
        self.by_name = {t.name: t for t in self.tables}

    def setup(self, spark) -> None:
        from glue_table_cache_spark import GlueSparkEngine, LocalMetadataStore

        import harness

        inner = LocalMetadataStore()
        register(inner, self.tables)
        self.store = harness.CountingStore(inner)
        self.fs = harness.CountingFileSystem(
            {t.location: t.name for t in self.tables}
        )
        self.engine = GlueSparkEngine(spark, self.store, filesystem=self.fs)
        # warm-up: one aggregate on the most popular hive, delta and
        # projected tables; the first set-up, in a fresh JVM, also runs one
        # on each other format, so no read path loads its classes inside
        # the timed loop
        warm = random.Random(0)
        self.setups += 1
        for t in self.tables[:len(FORMATS) if self.setups == 1 else 3]:
            op = self._op(_agg(warm, t))
            err = op.check(op.action(op.call()))
            if err is not None:
                raise RuntimeError(f"warm-up op failed its check: {err}")

    def _op(self, q: Query):
        import harness

        def check(tbl):
            got = [tuple(r.values()) for r in tbl.to_pylist()]
            if got != q.expected:
                return f"expected {q.expected}, got {got}"
            return None

        return harness.Op(
            kind=q.kind,
            label=q.sql,
            call=lambda: self.engine.sql(q.sql),
            action=lambda df: df.toArrow(),
            check=check,
            refs=len(q.tables),
            listing_refs=sum(
                self.by_name[t].fmt in LISTING_FORMATS for t in q.tables
            ),
            tables=q.tables,
        )

    def streams(self):
        def stream(client: int):
            for block in op_stream(self.tables, client):
                yield [self._op(q) for q in block]

        return [stream(c) for c in range(self.clients)]

    def before_op(self, op) -> None:
        pass

    def after_op(self, op, rec) -> None:
        pass

    def finish(self, spark, records, wall):
        return [], {}
