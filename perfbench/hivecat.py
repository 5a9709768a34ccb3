"""Seeded Hive catalog for the ``ddl_extract`` workload.

``generate`` draws a catalog of a fixed shape (databases, tables,
partitioned tables, partitions, and the tables whose partition restore is
forced one way) from a seed. ``build``
creates it in a Hive-enabled session; ``check_script`` compares an
extracted script with what the generator planted; ``migration_fixpoint``
replays a script into renamed databases, re-extracts and compares.
"""

from __future__ import annotations

import random
import re
import shutil
from dataclasses import dataclass, field

from hive_ddl_extract_tool_spark.catalog.extractor import (
    DEFAULT_PARTITION_KEYWORD,
    ExtractConfig,
    extract_ddl,
    format_partition_spec,
    get_table_location,
)

DB_PREFIX = "pb_"
MIGRATED_PREFIX = "mig_"
DB_WORDS = ["sales", "ops", "logs", "web", "fin", "hr", "ml", "iot"]
TABLE_WORDS = ["orders", "events", "users", "clicks", "items", "stock", "audit", "jobs", "logs", "runs"]
COL_TYPES = ["INT", "BIGINT", "STRING", "DOUBLE", "BOOLEAN", "DATE"]
REGIONS = ["emea", "apac", "amer", "latam", "anz", "nordics", "dach", "iberia"]


@dataclass(frozen=True)
class Shape:
    """Fixed totals of a generated catalog."""

    dbs: int = 3
    tables: int = 9
    partitioned: int = 6
    partitions: int = 30
    upper: int = 2      # tables with one uppercase partition path: ADD PARTITION
    default: int = 2    # tables with a default partition: MSCK


TINY = Shape(dbs=2, tables=4, partitioned=3, partitions=8, upper=1, default=1)


@dataclass
class Table:
    db: str
    name: str
    columns: list[tuple[str, str]]
    part_cols: list[str] = field(default_factory=list)
    partitions: list[str] = field(default_factory=list)  # SHOW PARTITIONS names, sorted
    strategy: str | None = None  # "add", "msck" or None (unpartitioned)


@dataclass
class Catalog:
    dbs: list[str]
    tables: list[Table]


def _dates(rng: random.Random, n: int) -> list[str]:
    days = rng.sample(range(1, 29), n)
    return [f"2024-{rng.randint(1, 12):02d}-{d:02d}" for d in days]


def generate(seed: int, shape: Shape = Shape()) -> Catalog:
    """Every seed gives the same structure -- tables per database, columns
    per table, partitions per table, which tables are partitioned -- so
    extraction cost does not move with the seed; names, column types,
    partition values and which partitioned table gets which restore
    strategy do."""
    rng = random.Random(seed)
    dbs = [DB_PREFIX + w for w in rng.sample(DB_WORDS, shape.dbs)]
    tables = []
    for i in range(shape.tables):
        cols = [(f"{rng.choice(TABLE_WORDS)}_{j}", rng.choice(COL_TYPES)) for j in range(3)]
        tables.append(Table(dbs[i % shape.dbs], f"{rng.choice(TABLE_WORDS)}_{i:02d}", cols))
    partitioned = tables[:shape.partitioned]  # spread evenly over the databases
    per_table, extra = divmod(shape.partitions, shape.partitioned)
    roles = ["add"] * shape.upper + ["default"] * shape.default
    roles += ["msck"] * (shape.partitioned - len(roles))
    rng.shuffle(roles)
    for k, (table, role) in enumerate(zip(partitioned, roles)):
        n = per_table + (k < extra)
        if role == "add":
            # one partition value with uppercase letters: its relative path
            # is not lowercase, which forces ADD PARTITION
            values = [f"{rng.choice(REGIONS)}_{i}" for i in range(n)]
            values[0] = values[0].upper()
            table.part_cols = ["region"]
            table.partitions = [f"region={v}" for v in values]
            table.strategy = "add"
        elif role == "default":
            table.part_cols = ["dt"]
            table.partitions = [f"dt={d}" for d in _dates(rng, n - 1)]
            table.partitions.append(f"dt={DEFAULT_PARTITION_KEYWORD}")
            table.strategy = "msck"
        elif k % 2:
            table.part_cols = ["dt"]
            table.partitions = [f"dt={d}" for d in _dates(rng, n)]
            table.strategy = "msck"
        else:
            regions = rng.sample(REGIONS, 2)
            combos = [(d, r) for d in _dates(rng, (n + 1) // 2) for r in regions][:n]
            table.part_cols = ["dt", "region"]
            table.partitions = [f"dt={d}/region={r}" for d, r in combos]
            table.strategy = "msck"
        table.partitions.sort()
    return Catalog(dbs, tables)


def build(spark, catalog: Catalog) -> None:
    for db in catalog.dbs:
        spark.sql(f"CREATE DATABASE {db}")
    for t in catalog.tables:
        cols = ", ".join(f"{c} {ty}" for c, ty in t.columns)
        parts = ""
        if t.part_cols:
            parts = " PARTITIONED BY ({})".format(", ".join(f"{c} STRING" for c in t.part_cols))
        spark.sql(f"CREATE TABLE {t.db}.{t.name} ({cols}){parts} STORED AS PARQUET")
        if t.partitions:
            specs = " ".join(f"PARTITION ({format_partition_spec(p)})" for p in t.partitions)
            spark.sql(f"ALTER TABLE {t.db}.{t.name} ADD {specs}")


def extract(spark, prefix: str = DB_PREFIX) -> str:
    """The workload's operation: the CLI's default configuration."""
    return extract_ddl(spark, prefix + "*", "*", None, ExtractConfig())


def canonical(script: str) -> str:
    """The script minus its DDL timestamps, which change on every CREATE."""
    return "\n".join(ln for ln in script.splitlines() if "transient_lastDdlTime" not in ln)


_BANNER = re.compile(r"^-- Table: (\S+)\.(\S+)$")
_ADD = re.compile(r'^ALTER TABLE (\S+) ADD PARTITION \((.*)\) LOCATION "(.*)";$')
_MSCK = re.compile(r"^MSCK REPAIR TABLE (\S+);$")


def _sections(script: str) -> dict[tuple[str, str], list[str]]:
    sections: dict[tuple[str, str], list[str]] = {}
    current: list[str] | None = None
    for line in script.splitlines():
        m = _BANNER.match(line)
        if m:
            current = sections.setdefault((m.group(1), m.group(2)), [])
        elif current is not None:
            current.append(line)
    return sections


def changed_tables(script: str, reference: str) -> set[str]:
    """Tables whose section differs from the reference's, timestamps aside."""
    ref, got = _sections(canonical(reference)), _sections(canonical(script))
    return {f"{db}.{t}" for db, t in ref.keys() | got.keys() if ref.get((db, t)) != got.get((db, t))}


def check_script(script: str, catalog: Catalog) -> set[str]:
    """Names of the tables whose section is missing or differs from what
    the generator planted: the CREATE statement, the restore strategy and,
    for ADD PARTITION, the exact specs and relative locations."""
    sections = _sections(script)
    planted = {(t.db, t.name) for t in catalog.tables}
    bad = {f"{db}.{t}" for db, t in sections if (db, t) not in planted}
    for t in catalog.tables:
        lines = sections.get((t.db, t.name))
        ok = (
            lines is not None
            and f"CREATE DATABASE IF NOT EXISTS {t.db};" in script
            and any(ln.replace("`", "").startswith(f"CREATE TABLE {t.db}.{t.name} (") for ln in lines)
        )
        if ok:
            adds = [m.groups() for m in map(_ADD.match, lines) if m]
            mscks = [m.group(1) for m in map(_MSCK.match, lines) if m]
            if t.strategy == "add":
                want = sorted((t.name, format_partition_spec(p), p) for p in t.partitions)
                ok = not mscks and sorted(adds) == want
            elif t.strategy == "msck":
                ok = not adds and mscks == [t.name]
            else:
                ok = not adds and not mscks
        if not ok:
            bad.add(f"{t.db}.{t.name}")
    return bad


def _local_path(location: str) -> str:
    return location[len("file:"):] if location.startswith("file:") else location


def _migrated(db: str) -> str:
    return MIGRATED_PREFIX + db[len(DB_PREFIX):]


def migration_fixpoint(spark, catalog: Catalog, script: str) -> set[str]:
    """Replay ``script`` into databases renamed ``pb_x`` -> ``mig_x`` as a
    cluster migration would, restore partitions, re-extract and compare
    canonically with the source script. MSCK only finds partitions whose
    directories exist, so each MSCK table's directory tree is copied first,
    as a migration copies the data. Returns the names of failed tables."""
    rename = re.compile(r"\b" + DB_PREFIX + r"(\w+)")
    applied = rename.sub(MIGRATED_PREFIX + r"\1", script)
    stmts = [s.strip() for s in "\n".join(
        ln for ln in applied.splitlines() if not ln.startswith("--")
    ).split(";") if s.strip()]
    for s in stmts:
        if not s.startswith("MSCK"):
            spark.sql(s)
    for t in catalog.tables:
        if t.strategy == "msck":
            shutil.copytree(_local_path(get_table_location(spark, t.db, t.name)),
                            _local_path(get_table_location(spark, _migrated(t.db), t.name)),
                            dirs_exist_ok=True)
    current_db = None
    for s in stmts:
        if s.startswith("USE "):
            current_db = s[4:].strip()
        elif s.startswith("MSCK"):
            spark.sql(f"USE {current_db}")
            spark.sql(s)
    bad = set()
    for t in catalog.tables:
        got = sorted(r[0] for r in spark.sql(f"SHOW PARTITIONS {_migrated(t.db)}.{t.name}").collect()) \
            if t.part_cols else []
        if got != t.partitions:
            bad.add(f"{t.db}.{t.name}")
    back = re.compile(r"\b" + MIGRATED_PREFIX + r"(\w+)")
    bad |= changed_tables(back.sub(DB_PREFIX + r"\1", extract(spark, MIGRATED_PREFIX)), script)
    spark.sql("USE default")
    for db in catalog.dbs:
        spark.sql(f"DROP DATABASE {_migrated(db)} CASCADE")
    return bad
