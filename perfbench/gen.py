"""Seeded input generators for the benchmark workloads.

Every generator takes an explicit seed and writes plain files (parquet
or JSON lines); the same seed gives byte-identical files. Sizes are
fixed per workload and only the values vary with the seed, so runs on
different seeds do the same amount of work.

- :func:`mysql_snapshot` — a 4-table synthetic MySQL "database" of raw
  string columns carrying the C1-C19 defects, plus the
  ``information_schema``-style column listing the cleaning specs are
  derived from.
- :class:`CdcStream` — a Debezium change stream over one entity table:
  the initial snapshot, then fixed-size JSON-lines batches, with a
  key → latest-version model of the expected silver state.
- :func:`bi_warehouse` — the ``lineitem`` and ``events`` tables the
  Metabase cards (registry queries) read.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write_parquet(table: pa.Table, path: str) -> None:
    # One row group and no statistics drift: pyarrow's writer output is
    # a pure function of the table, so equal tables give equal bytes.
    pq.write_table(table, path, compression="snappy")


def _pick(rng: np.random.Generator, pool: list, n: int) -> list:
    return [pool[i] for i in rng.integers(0, len(pool), n)]


# --- batch_ingest: the synthetic MySQL snapshot ------------------------------

# (table, share of rows). Skewed like the reference's fiscalizacion
# database: one table holds ~70 % of all rows. Four tables, one per
# ingest_many worker: each table costs a fixed ~0.7 s of jobs per round
# whatever its size, so more tables add round time, not cleaning work.
MYSQL_TABLES: tuple[tuple[str, float], ...] = (
    ("expedientes", 0.70),
    ("archivos", 0.15),
    ("bitacora", 0.10),
    ("agencias", 0.05),
)

# information_schema-style listing shared by every table: name,
# COLUMN_TYPE, nullable, primary key. One listing for all tables: their
# plans then share generated code, which keeps a cold first round short.
_MYSQL_COLUMNS: tuple[dict, ...] = (
    {"name": "id", "mysql_type": "int(11)", "nullable": False, "primary_key": True},
    {"name": "id_agencia", "mysql_type": "int(11)", "nullable": True, "primary_key": False},
    {"name": "nombre", "mysql_type": "varchar(255)", "nullable": False, "primary_key": False},
    {"name": "factualizacion", "mysql_type": "datetime", "nullable": True, "primary_key": False},
    {"name": "fcreacion", "mysql_type": "datetime", "nullable": True, "primary_key": False},
    {"name": "monto", "mysql_type": "decimal(12,2)", "nullable": True, "primary_key": False},
    {"name": "activo", "mysql_type": "tinyint(1)", "nullable": True, "primary_key": False},
    {"name": "descripcion", "mysql_type": "text", "nullable": True, "primary_key": False},
    {"name": "hora", "mysql_type": "time", "nullable": True, "primary_key": False},
    {"name": "folio", "mysql_type": "bigint(20)", "nullable": True, "primary_key": False},
)

# Share of raw rows that are an older/newer version of another row's key.
DUPLICATE_SHARE = 0.15

_NAMES = [
    "Expediente", "Actualización", "ActualizaciÃ³n", "Actualizaci??n",
    "Oficio urgente", "  espacios  ", "línea\r\nnueva", "tab\tseparado",
    "control\x07char", "Niño", "NiÃ±o", "ARCHIVADO", "nan", "", "Dirección",
    "DirecciÃ³n", "　ancho　", "ok",
]
_AMOUNTS_BAD = ["NaN", "", "null", "1e3", "  12.50 ", "-0.0", "None"]
_INTS_BAD = ["null", "NaN", "", "na", "12.7", "9999999999", " 17 "]
_BOOLS = ["0", "1", "", "true", "false", "2"]
_TIMES = ["12:02:03", "0 days 08:15:00", "23:59:59.5", "", "bad"]
_DATE_BAD = ["0000-00-00 00:00:00", "0000-00-00", "", "NULL", "1900-01-01 00:00:00", "None"]


def mysql_columns() -> list[dict]:
    """The information_schema listing of a snapshot table."""
    return [dict(c) for c in _MYSQL_COLUMNS]


def _datetimes(rng: np.random.Generator, n: int, bad_share: float) -> list[str]:
    secs = rng.integers(1_262_304_000, 1_735_689_600, n)  # 2010..2025
    iso = np.datetime_as_string(secs.astype("datetime64[s]")).tolist()
    # 80 % MySQL "YYYY-MM-DD HH:MM:SS", 20 % ISO-8601 with a "T"
    space = rng.random(n) >= 0.2
    out = [s.replace("T", " ") if sp else s for s, sp in zip(iso, space)]
    bad = np.flatnonzero(rng.random(n) < bad_share)
    for i, v in zip(bad, _pick(rng, _DATE_BAD, len(bad))):
        out[i] = v
    return out


def _sprinkle(rng: np.random.Generator, values: list[str], pool: list[str], share: float) -> list[str]:
    idx = np.flatnonzero(rng.random(len(values)) < share)
    for i, v in zip(idx, _pick(rng, pool, len(idx))):
        values[i] = v
    return values


@dataclass
class MysqlTable:
    name: str
    columns: list[dict]
    raw_rows: int
    distinct_keys: int


def mysql_snapshot(out_dir: str, seed: int, total_rows: int) -> list[MysqlTable]:
    """Write ``{out_dir}/{table}.parquet`` (all-string columns) for the
    snapshot tables and return their listings and expected counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    tables = []
    for name, share in MYSQL_TABLES:
        cols = mysql_columns()
        n = max(50, int(total_rows * share))
        n_keys = int(n / (1 + DUPLICATE_SHARE))
        ids = np.concatenate(
            [np.arange(1, n_keys + 1), rng.integers(1, n_keys + 1, n - n_keys)]
        )
        rng.shuffle(ids)
        data: dict[str, list] = {}
        for col in cols:
            c = col["name"]
            if c == "id":
                # PK text stays key-preserving after cleaning: padding
                # trims away, so distinct raw keys stay distinct.
                data[c] = [f" {i} " if i % 97 == 0 else str(i) for i in ids]
            elif c == "id_agencia":
                vals = [str(v) for v in rng.integers(1, 40, n)]
                data[c] = _sprinkle(rng, vals, _INTS_BAD, 0.05)
            elif c in ("nombre", "descripcion"):
                base = _pick(rng, _NAMES, n)
                data[c] = [f"{b} {i}" if k % 3 else b for k, (b, i) in enumerate(zip(base, ids))]
            elif c in ("factualizacion", "fcreacion"):
                data[c] = _datetimes(rng, n, 0.08)
            elif c == "monto":
                vals = [f"{v:.2f}" for v in rng.random(n) * 10_000]
                data[c] = _sprinkle(rng, vals, _AMOUNTS_BAD, 0.06)
            elif c == "activo":
                data[c] = _pick(rng, _BOOLS, n)
            elif c == "hora":
                data[c] = _pick(rng, _TIMES, n)
            elif c == "folio":
                vals = [f"{v}.0" if v % 5 == 0 else str(v) for v in rng.integers(1, 10**12, n)]
                data[c] = _sprinkle(rng, vals, _INTS_BAD, 0.05)
        schema = pa.schema([(c["name"], pa.string()) for c in cols])
        _write_parquet(pa.table(data, schema=schema), os.path.join(out_dir, f"{name}.parquet"))
        tables.append(MysqlTable(name, cols, n, int(len(np.unique(ids)))))
    return tables


# --- cdc_upsert: the Debezium change stream ----------------------------------

CDC_MONTHS = 12
HOT_MONTHS = 2  # the newest months, where creates, deletes and most updates land


def cdc_month(entity_id: int, entities: int) -> str:
    """Creation-month partition of an entity. Ids are assigned in
    creation order, so each month holds one contiguous id range; the
    month is a pure function of the id, and a re-created key lands in
    the partition it left."""
    return f"2024-{(entity_id - 1) * CDC_MONTHS // entities + 1:02d}"


def silver_checksum_expr() -> str:
    """Spark SQL aggregate the current-state read computes; the model
    computes the same value in :meth:`CdcStream.expected_state`."""
    return "sum(id * 7919 + tamano * 31 + _ts_ms % 1000)"


@dataclass
class CdcStream:
    """Debezium change batches over one entity table, and the model.

    Activity has partition locality, as on a live system: creates,
    deletes and updates land in the newest ``HOT_MONTHS`` creation
    months, plus ``COLD_UPDATES`` late corrections to older entities
    per batch. Each batch holds ``creates == deletes`` (creates
    re-insert keys a delete retired earlier, so silver keeps a fixed
    row count), updates skewed toward the most recently created
    entities, one tombstone per delete, redelivered duplicates and a
    small malformed share.
    """

    seed: int
    entities: int
    batch_events: int
    rng: np.random.Generator = field(init=False)
    ts: int = field(init=False, default=1_700_000_000_000)
    state: dict = field(init=False, default_factory=dict)
    live: list = field(init=False, default_factory=list)  # hot, creation order
    retired: list = field(init=False, default_factory=list)
    dropped_per_batch: int = field(init=False, default=0)

    CREATE_SHARE = 0.10
    TOMBSTONE_SHARE = 0.10  # one per delete
    DUP_SHARE = 0.07
    MALFORMED_SHARE = 0.03
    COLD_UPDATES = 1
    RETIRED_SHARE = 0.3  # of the hot range, retired by the snapshot

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng([self.seed, 2])
        # first id of the hot range: the newest HOT_MONTHS months
        self.hot_first = (CDC_MONTHS - HOT_MONTHS) * self.entities // CDC_MONTHS + 1

    def _row(self, entity_id: int) -> dict:
        return {
            "id": entity_id,
            "nombre": f"entidad_{entity_id}_{int(self.rng.integers(0, 1000))}",
            "tamano": int(self.rng.integers(1, 100_000)),
            "mes": cdc_month(entity_id, self.entities),
        }

    def _event(self, op: str, before: dict | None, after: dict | None) -> str:
        self.ts += 1
        env = {
            "before": before,
            "after": after,
            "source": {"table": "archivos"},
            "op": op,
            "ts_ms": self.ts,
        }
        return json.dumps(env, separators=(",", ":"))

    def _apply(self, entity_id: int, row: dict, deleted: bool) -> None:
        self.state[entity_id] = (row, self.ts, deleted)

    def snapshot(self) -> list[str]:
        """Initial snapshot (``op=r``) of every entity, then deletes of
        ``RETIRED_SHARE`` of the hot range — the pool creates reuse."""
        lines = []
        for i in range(1, self.entities + 1):
            row = self._row(i)
            lines.append(self._event("r", None, row))
            self._apply(i, row, False)
        hot = np.arange(self.hot_first, self.entities + 1)
        order = self.rng.permutation(hot)
        n_retired = int(len(hot) * self.RETIRED_SHARE)
        for i in order[:n_retired].tolist():
            row = self.state[i][0]
            lines.append(self._event("d", row, None))
            self._apply(i, row, True)
        self.retired = order[:n_retired].tolist()
        self.live = sorted(order[n_retired:].tolist())  # oldest first
        return lines

    def _update(self, eid: int) -> str:
        before = self.state[eid][0]
        row = self._row(eid)
        line = self._event("u", before, row)
        self._apply(eid, row, False)
        return line

    def next_batch(self) -> list[str]:
        """One batch of JSON lines, in commit (ts) order, with the
        model advanced past it."""
        b = self.batch_events
        n_create = int(b * self.CREATE_SHARE)
        n_tomb = int(b * self.TOMBSTONE_SHARE)
        n_dup = int(b * self.DUP_SHARE)
        n_bad = int(b * self.MALFORMED_SHARE)
        n_update = b - 2 * n_create - n_tomb - n_dup - n_bad - self.COLD_UPDATES
        ops = ["c"] * n_create + ["d"] * n_create + ["u"] * n_update + ["o"] * self.COLD_UPDATES
        self.rng.shuffle(ops)
        lines: list[str] = []
        for op in ops:
            if op == "c":
                eid = self.retired.pop(0)
                row = self._row(eid)
                lines.append(self._event("c", None, row))
                self._apply(eid, row, False)
                self.live.append(eid)
            elif op == "d":
                # never delete a key created in this batch: keeps the
                # create → delete pool turnover one batch deep
                k = int(self.rng.integers(0, len(self.live) - n_create))
                eid = self.live.pop(k)
                row = self.state[eid][0]
                lines.append(self._event("d", row, None))
                self._apply(eid, row, True)
                self.retired.append(eid)
            elif op == "u":
                # recent creations get most updates: index from the end
                # of the creation-ordered live list, power-law distance
                back = int(len(self.live) * self.rng.random() ** 3)
                lines.append(self._update(self.live[len(self.live) - 1 - back]))
            else:
                # a late correction to an entity of an older month
                lines.append(self._update(int(self.rng.integers(1, self.hot_first))))
        # Debezium emits a null-value tombstone after each delete.
        delete_at = [i for i, line in enumerate(lines) if '"op":"d"' in line]
        for i in reversed(delete_at[:n_tomb]):
            lines.insert(i + 1, "null")
        # At-least-once redelivery: exact copies of earlier events.
        for i in sorted(self.rng.choice(len(lines), n_dup, replace=False).tolist(), reverse=True):
            lines.insert(i + 1, lines[i])
        # Malformed: a record cut off before its ``op`` field.
        for i in sorted(self.rng.choice(len(lines), n_bad, replace=False).tolist(), reverse=True):
            lines.insert(i, lines[i][:24])
        self.dropped_per_batch = sum(
            1 for line in lines if line == "null" or not line.endswith("}")
        )
        return lines

    def expected_state(self) -> tuple[int, int]:
        """(live rows, checksum) of silver per the model; mirrors
        :func:`silver_checksum_expr` over rows with ``__deleted`` false."""
        count = 0
        total = 0
        for eid, (row, ts, deleted) in self.state.items():
            if not deleted:
                count += 1
                total += eid * 7919 + row["tamano"] * 31 + ts % 1000
        return count, total


def write_lines(lines: list[str], path: str) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")


# --- the BI cards' warehouse -------------------------------------------------


def bi_warehouse(out_dir: str, seed: int, lineitem_rows: int) -> dict[str, int]:
    """Write the tables the Metabase cards read (``lineitem`` and
    ``events``), one parquet file each, with keys ranging over a TPC-H
    star schema sized off ``lineitem_rows``. Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_li = lineitem_rows
    n_ord = n_li // 4
    n_part = max(100, n_li // 30)
    n_supp = max(20, n_li // 600)
    n_evt = max(1000, n_li // 6)
    n_users = max(50, n_evt // 66)

    def ts_days(lo: str, n: int, span_days: int) -> pa.Array:
        base = np.datetime64(lo, "us")
        days = rng.integers(0, span_days, n).astype("timedelta64[D]")
        return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": ts_days("1995-01-02", n_li, 2498),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt)).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_evt),
            "value": np.round(rng.exponential(60.0, n_evt), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_evt)],
        }),
    }
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
