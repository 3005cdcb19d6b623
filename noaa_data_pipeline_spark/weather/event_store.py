"""Parquet-backed event store mirroring the reference's persistent
DuckDB event DB (oracle/src/db/event_db_migrations.rs:36-111).

Tables (SURVEY §1.2): events (locations as array<string>, blobs as
binary, nested timestamps), entries, entry choices, weather rows
with the nested observed/forecasted STRUCTs — Spark StructType holds
them natively.

Write model: append for inserts; MERGE-style updates (the
reference's inline-VALUES correlated UPDATE, event_data.rs:405-448)
become join + partition overwrite — the Parquet stand-in for Delta's
MERGE INTO, kept behind this module's API so a Delta backend can
swap in. Scale: these tables are control-plane sized (<= thousands
of rows); the lake fact tables are the data plane.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid as uuidlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def delta_available(spark: SparkSession | None = None) -> bool:
    """True when delta-spark is importable (and, if a session is
    given, its catalog actually accepts the delta format — the python
    package alone is not enough without the JVM-side extension)."""
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError:
        return False
    if spark is None:
        return True
    try:
        spark.sql("SELECT 1").write  # cheap session liveness probe
        return (
            spark.conf.get(
                "spark.sql.extensions", ""
            ).find("DeltaSparkSessionExtension")
            >= 0
        )
    except Exception:
        return False


class EventStore:
    """Minimal CRUD + listing over the event tables.

    Two storage backends behind one API (SURVEY §1.1 maps the
    reference's persistent event DB to Delta/MERGE):

    - ``backend="delta"`` — Delta Lake tables; score updates run as a
      real transactional ``MERGE INTO`` (update_scores), migrations
      as overwriteSchema rewrites. Requires delta-spark + a session
      built with the Delta extension; ``backend="auto"`` picks it
      when available.
    - ``backend="parquet"`` (the fallback, and the default where
      delta-spark is absent — e.g. this build sandbox) — append for
      inserts, join + rename-swap overwrite for merges. Semantically
      equivalent, golden-tested, but not crash-atomic (see
      _rewrite_frame).

    Carries the reference's db_version scheme
    (event_db_migrations.rs:4-34) as a JSON sidecar + ordered
    migration steps run at open time: version 0 = fresh store
    (stamped current), 1 = the pre-versioning layout (entries without
    ``updated_at``), 2 = current."""

    def __init__(self, spark: SparkSession, root: str, backend: str = "auto"):
        self.spark = spark
        self.root = root
        # The backend is a property of the STORE, not the session: a
        # delta-written table read as plain parquet silently returns
        # tombstoned rows, and a parquet table read as delta errors.
        # The version sidecar records the backend at stamp time; for
        # pre-marker stores the _delta_log directory is the physical
        # truth.
        stored = self._stored_backend()
        if backend == "auto":
            backend = stored or (
                "delta" if delta_available(spark) else "parquet"
            )
        elif stored and stored != backend:
            raise ValueError(
                f"store at {root} was written with backend {stored!r}; "
                f"reopen with backend={stored!r} (or 'auto')"
            )
        if backend not in ("delta", "parquet"):
            raise ValueError(f"unknown event-store backend {backend!r}")
        if backend == "delta" and not delta_available(spark):
            raise ValueError(
                "backend='delta' needs delta-spark and a session built "
                "with the Delta SQL extension"
                + (
                    " (this store was written as delta — reading it as "
                    "parquet would surface deleted rows)"
                    if stored == "delta"
                    else ""
                )
            )
        self.backend = backend
        self.run_migrations()

    def _stored_backend(self) -> str | None:
        vf = os.path.join(self.root, _VERSION_FILE)
        if os.path.isfile(vf):
            with open(vf) as fh:
                marked = json.load(fh).get("backend")
            if marked:
                return marked
        for t in _TABLES:
            if os.path.isdir(os.path.join(self._path(t), "_delta_log")):
                return "delta"
            if os.path.isdir(self._path(t)):
                return "parquet"
        return None

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
            json.dump({"version": version, "backend": self.backend}, fh)

    def run_migrations(self) -> int:
        """Apply pending migrations in order and stamp the store;
        returns the resulting version."""
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
            return self.spark.createDataFrame([], schema)
        if self.backend == "delta":
            return self.spark.read.format("delta").load(path)
        return self.spark.read.schema(schema).parquet(path)

    def append(self, table: str, rows: list[tuple]) -> None:
        df = self.spark.createDataFrame(rows, _TABLES[table])
        self._append(table, df)

    def _append(self, table: str, df: DataFrame) -> None:
        if self.backend == "delta":
            df.write.format("delta").mode("append").save(self._path(table))
        else:
            df.write.mode("append").parquet(self._path(table))

    def append_frame(self, table: str, df: DataFrame) -> None:
        """Append a DataFrame directly (the ETL write path — no
        driver round-trip). Columns are aligned to the table schema by
        name and cast to its types."""
        self._append(table, self._aligned(table, df))

    @staticmethod
    def _aligned(table: str, df: DataFrame) -> DataFrame:
        return df.select(*[F.col(f.name).cast(f.dataType) for f in _TABLES[table].fields])

    def _rewrite_frame(self, table: str, df: DataFrame) -> None:
        """Replace a table with a derived frame WITHOUT collecting it:
        a parquet path can't be overwritten while a plan still reads
        it, so the update writes to a sibling temp directory and
        swaps it in via two renames. This keeps merge-style rewrites
        fully distributed (2.5M entry rows at the ETL's
        10^5-event scale never touch the driver). NOT crash-atomic: a
        kill between the renames leaves the previous table under
        ``<path>__old_*`` for manual recovery (directory renames
        can't be combined into one atomic op); the Delta backend does
        a transactional overwrite instead and never hits the rename
        path."""
        aligned = self._aligned(table, df)
        path = self._path(table)
        if self.backend == "delta":
            # Delta overwrites are transactional and readers see the
            # previous snapshot until the commit lands — no tmp+rename
            (
                aligned.write.format("delta")
                .mode("overwrite")
                .option("overwriteSchema", "true")
                .save(path)
            )
            return
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
        event_id = event_id or str(uuidlib.uuid4())
        now = now or dt.datetime.utcnow()
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
        (P9, oracle.rs:218-289) done against the stored event row."""
        ev = self.read("events").filter(F.col("id") == event_id).collect()
        if not ev:
            raise ValueError(f"unknown event {event_id}")
        ev = ev[0]
        n_entries = self.read("entries").filter(F.col("event_id") == event_id).count()
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
        now = now or dt.datetime.utcnow()
        self.append("entries", [(entry_id, event_id, None, None, now, now)])
        self.append("choices", [(entry_id, s, tl, th, ws) for s, tl, th, ws in choices])

    # -- updates (J5 as merge) ----------------------------------------

    def update_scores(self, scored: DataFrame, now: dt.datetime | None = None) -> None:
        """The reference's correlated inline-VALUES UPDATE
        (event_data.rs:405-448) as a merge. Delta backend: literally
        ``MERGE INTO`` — transactional, matched rows updated in
        place. Parquet backend: left-join + rename-swap overwrite,
        same result, golden-tested equivalence.

        The score frame must be unique per entry_id — asserted up
        front (ADVICE r8) because the two backends otherwise FAIL
        DIFFERENTLY on duplicates: Delta MERGE raises its
        multiple-source-rows-matched error while the parquet
        left-join silently duplicates entry rows in the rewritten
        table. The reference's UPDATE ... FROM (VALUES ...) has the
        same silent last-writer ambiguity; failing loudly is the
        safer twin."""
        dup = (
            scored.groupBy("entry_id").count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"update_scores: duplicate entry_id {dup[0]['entry_id']!r} in the "
                "score frame; scores must be unique per entry"
            )
        now = now or dt.datetime.utcnow()
        if self.backend == "delta":
            from delta.tables import DeltaTable

            src = scored.select(
                F.col("entry_id").alias("sid"),
                F.col("score").alias("new_score"),
                F.col("base_score").alias("new_base"),
            )
            (
                DeltaTable.forPath(self.spark, self._path("entries"))
                .alias("e")
                .merge(src.alias("s"), "e.id = s.sid")
                .whenMatchedUpdate(
                    # COALESCE mirrors the parquet path exactly: a
                    # NULL in the score frame keeps the stored value
                    set={
                        "score": "coalesce(s.new_score, e.score)",
                        "base_score": "coalesce(s.new_base, e.base_score)",
                        "updated_at": f"timestamp'{now.isoformat(sep=' ')}'",
                    }
                )
                .execute()
            )
            return
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
                F.when(F.col("sid").isNotNull(), F.lit(now))
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
        events = self.read("events")
        sig_df = self.spark.createDataFrame(
            list(signatures.items()), "sig_event_id string, new_signature binary"
        )
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

