"""Parquet-backed event store mirroring the reference's persistent
DuckDB event DB (oracle/src/db/event_db_migrations.rs:36-111).

Tables (SURVEY §1.2): events (locations as array<string>, blobs as
binary, nested timestamps), entries, entry choices, weather rows
with the nested observed/forecasted STRUCTs — Spark StructType holds
them natively. Each table is one parquet directory ``<root>/<table>``.

Write model: append for inserts; MERGE-style updates (the
reference's inline-VALUES correlated UPDATE, event_data.rs:405-448)
become join + rewrite-and-swap. Inserts honour the reference's
``PRIMARY KEY``s on ``events.id`` and ``entries.id``, and one lock per
store serializes the writes, as the reference's single-writer DuckDB
file does. Python rows enter through :func:`.schemas.local_frame` and
datetime literals through :func:`.schemas.utc_lit`: naive datetimes
are UTC whatever the process zone. Scale: these tables are
control-plane sized (<= thousands of rows); the lake fact tables are
the data plane.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import uuid as uuidlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import local_frame, utc_lit

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("total_allowed_entries", T.IntegerType(), False),
        T.StructField("number_of_places_win", T.IntegerType(), False),
        T.StructField("number_of_values_per_entry", T.IntegerType(), False),
        T.StructField("signing_date", T.TimestampType(), False),
        T.StructField("observation_date", T.TimestampType(), False),
        T.StructField("locations", T.ArrayType(T.StringType()), False),
        T.StructField("coordinator_pubkey", T.StringType(), True),
        T.StructField("nonce", T.BinaryType(), True),
        T.StructField("attestation_signature", T.BinaryType(), True),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("event_id", T.StringType(), False),
        T.StructField("score", T.LongType(), True),
        T.StructField("base_score", T.LongType(), True),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

# v1 (pre-versioning) entries layout, kept for the v1 -> v2 migration
_ENTRY_SCHEMA_V1 = T.StructType(ENTRY_SCHEMA.fields[:-1])

CHOICE_SCHEMA = T.StructType(
    [
        T.StructField("entry_id", T.StringType(), False),
        T.StructField("station", T.StringType(), False),
        T.StructField("temp_low", T.StringType(), True),
        T.StructField("temp_high", T.StringType(), True),
        T.StructField("wind_speed", T.StringType(), True),
    ]
)

_READING = T.StructType(
    [
        T.StructField("date", T.TimestampType(), True),
        T.StructField("temp_low", T.LongType(), True),
        T.StructField("temp_high", T.LongType(), True),
        T.StructField("wind_speed", T.LongType(), True),
    ]
)

WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("event_id", T.StringType(), False),
        T.StructField("station_id", T.StringType(), False),
        T.StructField("observed", _READING, True),
        T.StructField("forecasted", _READING, True),
    ]
)

VALID_PICKS = {"over", "par", "under"}  # the SQL ENUM, migrations :66

_TABLES = {
    "events": EVENT_SCHEMA,
    "entries": ENTRY_SCHEMA,
    "choices": CHOICE_SCHEMA,
    "weather": WEATHER_SCHEMA,
}


CURRENT_VERSION = 2
_VERSION_FILE = "_db_version.json"
_METADATA_FILE = "_oracle_metadata.json"


class EventStore:
    """Minimal CRUD + listing over the event tables, as plain parquet
    (SURVEY §1.1: the reference keeps them in one single-node DuckDB
    file; inserts append, merges rewrite and swap — see
    :meth:`_rewrite_frame` for what that does not guarantee).

    ``backend`` has one value, ``"parquet"``, and anything else raises.
    The keyword survives because callers written for the earlier
    two-backend store pass it explicitly (the repo benchmark's serve
    workload does); it selects nothing. The store's on-disk layout,
    one parquet directory per table, is part of that benchmark's
    contract too: its checks read ``<root>/<table>`` with pyarrow.

    ``lock`` (one per store object) serializes every write: inserts
    with their validation reads, ``append_frame``, the read-and-rewrite
    of ``update_scores`` and ``sign_events``, and the migrations. Share
    one store object between the threads that write to a store root.

    Carries the reference's db_version scheme
    (event_db_migrations.rs:4-34) as a JSON sidecar + ordered
    migration steps run at open time: version 0 = fresh store
    (stamped current), 1 = the pre-versioning layout (entries without
    ``updated_at``), 2 = current."""

    def __init__(self, spark: SparkSession, root: str, backend: str = "parquet"):
        if backend != "parquet":
            raise ValueError(f"unknown event-store backend {backend!r}; only 'parquet' exists")
        self.spark = spark
        self.root = root
        self.lock = threading.RLock()
        self._refuse_delta_store()
        self.run_migrations()

    def _refuse_delta_store(self) -> None:
        """A store written by the removed Delta backend holds tombstoned
        files that plain parquet reads would surface as live rows."""
        vf = os.path.join(self.root, _VERSION_FILE)
        marked = False
        if os.path.isfile(vf):
            with open(vf) as fh:
                marked = json.load(fh).get("backend") == "delta"
        if marked or any(os.path.isdir(os.path.join(self._path(t), "_delta_log")) for t in _TABLES):
            raise ValueError(
                f"store at {self.root} was written as Delta tables; "
                "reading them as parquet would surface deleted rows"
            )

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # -- versioning (event_db_migrations.rs equivalent) ----------------

    def _version(self) -> int:
        vf = os.path.join(self.root, _VERSION_FILE)
        if os.path.isfile(vf):
            with open(vf) as fh:
                return int(json.load(fh)["version"])
        # no sidecar: a store with tables predates versioning (v1);
        # an empty directory is a fresh store (v0)
        has_tables = any(os.path.isdir(self._path(t)) for t in _TABLES)
        return 1 if has_tables else 0

    def _stamp(self, version: int) -> None:
        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, _VERSION_FILE), "w") as fh:
            json.dump({"version": version, "backend": "parquet"}, fh)

    def run_migrations(self) -> int:
        """Apply pending migrations in order and stamp the store;
        returns the resulting version."""
        with self.lock:
            v = self._version()
            if v == 0:
                self._stamp(CURRENT_VERSION)  # fresh store: current layout
                return CURRENT_VERSION
            while v < CURRENT_VERSION:
                getattr(self, f"_migrate_v{v}_to_v{v + 1}")()
                v += 1
                self._stamp(v)
            return v

    def _migrate_v1_to_v2(self) -> None:
        """v2 adds ``updated_at`` to entries (the reference's entries
        table has it, event_db_migrations.rs:70-77; v1 dropped it).
        Backfill = created_at."""
        path = self._path("entries")
        if not os.path.isdir(path):
            return
        old = self.spark.read.schema(_ENTRY_SCHEMA_V1).parquet(path)
        self._rewrite_frame(
            "entries", old.withColumn("updated_at", F.col("created_at"))
        )

    # -- oracle metadata singleton (migrations :36-48) -----------------

    def ensure_metadata(self, pubkey_hex: str, name: str) -> dict:
        """One oracle key per store — the reference's singleton
        oracle_metadata row guarding against a second key reusing the
        same database. Raises on a key/name mismatch."""
        mf = os.path.join(self.root, _METADATA_FILE)
        if os.path.isfile(mf):
            with open(mf) as fh:
                meta = json.load(fh)
            if meta["pubkey"] != pubkey_hex or meta["name"] != name:
                raise ValueError(
                    "store already initialized with a different oracle identity"
                )
            return meta
        meta = {
            "pubkey": pubkey_hex,
            "name": name,
            "created_at": dt.datetime.utcnow().isoformat(),
        }
        os.makedirs(self.root, exist_ok=True)
        with open(mf, "w") as fh:
            json.dump(meta, fh)
        return meta

    def read(self, table: str) -> DataFrame:
        path = self._path(table)
        schema = _TABLES[table]
        if not os.path.isdir(path):
            return local_frame(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(path)

    def append(self, table: str, rows: list[tuple]) -> None:
        self._append(table, local_frame(self.spark, rows, _TABLES[table]))

    def append_frame(self, table: str, df: DataFrame) -> None:
        """Append a DataFrame directly (the ETL write path — no
        driver round-trip). Columns are aligned to the table schema by
        name and cast to its types."""
        self._append(table, self._aligned(table, df))

    def _append(self, table: str, df: DataFrame) -> None:
        with self.lock:
            df.write.mode("append").parquet(self._path(table))

    @staticmethod
    def _aligned(table: str, df: DataFrame) -> DataFrame:
        return df.select(*[F.col(f.name).cast(f.dataType) for f in _TABLES[table].fields])

    def _rewrite_frame(self, table: str, df: DataFrame) -> None:
        """Replace a table with a derived frame WITHOUT collecting it:
        a parquet path can't be overwritten while a plan still reads
        it, so the update writes to a sibling temp directory and
        swaps it in via two renames. This keeps merge-style rewrites
        fully distributed (2.5M entry rows at the ETL's
        10^5-event scale never touch the driver). Callers hold
        ``lock`` from their read of the table to here, so no write of
        this store lands in between and is lost. NOT crash-atomic: a
        kill between the renames leaves the previous table under
        ``<path>__old_*`` for manual recovery (directory renames
        can't be combined into one atomic op), and a reader between
        the renames sees an empty table."""
        aligned = self._aligned(table, df)
        path = self._path(table)
        tmp = f"{path}__rewrite_{uuidlib.uuid4().hex[:8]}"
        aligned.write.mode("overwrite").parquet(tmp)
        old = f"{path}__old_{uuidlib.uuid4().hex[:8]}"
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)

    # -- inserts (S12) -------------------------------------------------

    def add_event(
        self,
        event_id: str | None,
        observation_date: dt.datetime,
        signing_date: dt.datetime,
        locations: list[str],
        total_allowed_entries: int,
        number_of_values_per_entry: int,
        number_of_places_win: int,
        coordinator_pubkey: str | None = None,
        now: dt.datetime | None = None,
        nonce: bytes | None = None,
    ) -> str:
        """Insert one event; a caller-chosen id that already exists is
        refused (``events.id`` is the reference's PRIMARY KEY)."""
        now = now or dt.datetime.utcnow()
        with self.lock:
            if not event_id:
                event_id = str(uuidlib.uuid4())
            elif self.read("events").filter(F.col("id") == event_id).limit(1).count():
                raise ValueError(f"event {event_id} already exists")
            self.append(
                "events",
                [
                    (
                        event_id, total_allowed_entries, number_of_places_win,
                        number_of_values_per_entry, signing_date, observation_date,
                        locations, coordinator_pubkey, nonce, None, now, now,
                    )
                ],
            )
        return event_id

    def add_entry(
        self,
        entry_id: str,
        event_id: str,
        choices: list[tuple[str, str | None, str | None, str | None]],
        now: dt.datetime | None = None,
    ) -> None:
        """Entry + picks, with the reference's validation predicates
        (P9, oracle.rs:218-289) done against the stored event row, and
        ``entries.id`` as a primary key. The checks and the appends run
        under ``lock``, so two inserts cannot both pass a check."""
        now = now or dt.datetime.utcnow()
        with self.lock:
            ev = self.read("events").filter(F.col("id") == event_id).collect()
            if not ev:
                raise ValueError(f"unknown event {event_id}")
            ev = ev[0]
            # one job answers both the capacity and the primary-key check
            in_event, same_id = F.col("event_id") == event_id, F.col("id") == entry_id
            n_entries, n_same_id = (
                self.read("entries")
                .filter(in_event | same_id)
                .agg(F.count_if(in_event), F.count_if(same_id))
                .first()
            )
            if n_same_id:
                raise ValueError(f"entry {entry_id} already exists")
            if n_entries >= ev.total_allowed_entries:
                raise ValueError("event full")
            for station, *picks in choices:
                if station not in ev.locations:
                    raise ValueError(f"station {station} not in event locations")
                for p in picks:
                    if p is not None and p not in VALID_PICKS:
                        raise ValueError(f"invalid pick {p!r}")
            n_values = sum(1 for _, *picks in choices for p in picks if p is not None)
            if n_values > ev.number_of_values_per_entry:
                raise ValueError("too many picks for this event")
            self.append("entries", [(entry_id, event_id, None, None, now, now)])
            self.append("choices", [(entry_id, s, tl, th, ws) for s, tl, th, ws in choices])

    # -- updates (J5 as merge) ----------------------------------------

    def update_scores(self, scored: DataFrame, now: dt.datetime | None = None) -> None:
        """The reference's correlated inline-VALUES UPDATE
        (event_data.rs:405-448) as a merge: left-join + rewrite-and-swap
        of ``entries``, under ``lock`` from the read to the swap.

        The score frame must be unique per entry_id — asserted up
        front (ADVICE r8) because the left-join would otherwise
        silently duplicate entry rows in the rewritten table. The
        reference's UPDATE ... FROM (VALUES ...) has the same silent
        last-writer ambiguity; failing loudly is the safer twin."""
        dup = (
            scored.groupBy("entry_id").count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"update_scores: duplicate entry_id {dup[0]['entry_id']!r} in the "
                "score frame; scores must be unique per entry"
            )
        now = now or dt.datetime.utcnow()
        with self.lock:
            entries = self.read("entries")
            updated = (
                entries.alias("e")
                .join(
                    scored.select(
                        F.col("entry_id").alias("sid"),
                        F.col("score").alias("new_score"),
                        F.col("base_score").alias("new_base"),
                    ),
                    F.col("e.id") == F.col("sid"),
                    "left",
                )
                .select(
                    "e.id",
                    "e.event_id",
                    F.coalesce("new_score", "e.score").alias("score"),
                    F.coalesce("new_base", "e.base_score").alias("base_score"),
                    "e.created_at",
                    F.when(F.col("sid").isNotNull(), utc_lit(now))
                    .otherwise(F.col("e.updated_at"))
                    .alias("updated_at"),
                )
            )
            self._rewrite_frame("entries", updated)

    def sign_events(self, signatures: dict[str, bytes]) -> None:
        """Attach attestation signatures to many events in ONE table
        rewrite (the ETL signs a fleet per pass; per-event
        rewrites would be N full passes over the control table)."""
        if not signatures:
            return
        sig_df = local_frame(
            self.spark, list(signatures.items()), "sig_event_id string, new_signature binary"
        )
        with self.lock:
            events = self.read("events")
            updated = (
                events.join(
                    F.broadcast(sig_df), events.id == sig_df.sig_event_id, "left"
                )
                .withColumn(
                    "attestation_signature",
                    F.coalesce("new_signature", "attestation_signature"),
                )
                .drop("sig_event_id", "new_signature")
            )
            self._rewrite_frame("events", updated)

    # -- listings ------------------------------------------------------

    def list_events(self, limit: int = 100) -> DataFrame:
        """J4/W5: events left-joined with per-event entry counts,
        COALESCE'd to 0, LIMIT'ed (event_data.rs:603-641)."""
        events = self.read("events")
        counts = (
            self.read("entries")
            .groupBy("event_id")
            .agg(F.count("id").alias("total_entries"))
        )
        return (
            events.join(counts, events.id == counts.event_id, "left")
            .select(
                "id",
                "observation_date",
                "signing_date",
                "locations",
                "total_allowed_entries",
                "coordinator_pubkey",
                F.coalesce("total_entries", F.lit(0)).alias("total_entries"),
                "attestation_signature",
            )
            .orderBy("id")
            .limit(limit)
        )

    def active_events(self) -> DataFrame:
        """P6: unattested events (event_data.rs:700-723)."""
        return self.list_events(limit=1 << 30).filter(
            F.col("attestation_signature").isNull()
        )

    def event_entries(self, event_id: str) -> tuple[DataFrame, DataFrame]:
        entries = self.read("entries").filter(F.col("event_id") == event_id)
        choices = self.read("choices").join(
            entries.select(F.col("id").alias("entry_id")), "entry_id", "left_semi"
        )
        return entries, choices

