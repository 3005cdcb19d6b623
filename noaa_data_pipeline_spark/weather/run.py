"""ETL orchestration: the reference's POST /oracle/update flow
(oracle/src/oracle.rs:314-389) as one set-based pass over every
active event.

Per active (unattested) event: refresh weather from the lake
(forecast required, observed only once the observation window has
started — oracle.rs:700-757), score entries, and attest events whose
signing date has passed. Event status derivation mirrors
db/mod.rs:447-471 (Live / Running / Completed / Signed).

The attestation is either the real schnorr path
(:func:`schnorr_signer`) or ``sign_stub``, a clearly-marked
placeholder over the same winning-bytes message the reference signs.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from . import etl, lake, queries
from .event_store import EventStore
from .schemas import utc_lit

EVENT_WINDOW = dt.timedelta(days=1)  # "all events are only a day long"


def _unattested_status(observation_date: dt.datetime, now: dt.datetime) -> str:
    if now < observation_date:
        return "live"
    if now < observation_date + EVENT_WINDOW:
        return "running"
    return "completed"


def sign_stub(winning_bytes: bytes) -> bytes:
    """Deterministic placeholder for the schnorr attestation secret —
    same message bytes, no key material. NOT cryptography. Used when
    no oracle key is configured; see :func:`schnorr_signer` for the
    real path."""
    return b"stub-attestation:" + winning_bytes


def schnorr_signer(seckey: bytes):
    """Real DLC attestation (oracle.rs:620-655): returns a
    ``(nonce_secret, winning_bytes) -> 32-byte scalar`` callable
    computing s = k' + e*d' over secp256k1 (BIP-340 challenge), via
    the pure-Python functions/schnorr module. Events without a
    pre-committed nonce fall back to a standard BIP-340 signature
    (64 bytes) over the winning bytes."""
    from ..functions import schnorr

    def _sign(nonce_secret: bytes | None, winning_bytes: bytes) -> bytes:
        if nonce_secret:
            return schnorr.attestation_secret(seckey, bytes(nonce_secret), winning_bytes)
        return schnorr.sign(winning_bytes, seckey)

    return _sign


def run_etl_batch(
    store: EventStore, lake_root: str, now: dt.datetime, signer=None
) -> dict[str, str]:
    """One ETL pass over ALL active events as set-based plans; returns
    {event_id: resulting status}. The reference runs the procedure
    event by event; here:

    - the lake is scanned ONCE over the union of event windows, with
      per-event time predicates applied after a broadcast join with
      the exploded (event_id, station_id) dimension;
    - the daily rollups are queries.forecasts_daily /
      observations_daily keyed by event too — one shuffle for the
      fleet instead of one job per event;
    - scoring is one join chain + groupBy(entry_id)
      (etl.score_entries_batch), winners one window partitioned by
      event_id (etl.winners_batch);
    - signatures land in one control-table rewrite (sign_events).

    At 10^5 active events an event-at-a-time loop would serialize
    the cluster on driver round-trips; this path's job count is O(1) in the
    number of events. Only control-plane-sized frames (event
    metadata, winner triples) are ever collected — snapshots append
    and score/signature merges rewrite distributed
    (EventStore._rewrite_frame)."""
    spark = store.spark
    events = store.read("events").filter(F.col("attestation_signature").isNull())
    # TIMESTAMP_NTZ collects as naive UTC; a TIMESTAMP collects in the
    # process zone, which would skew the windows and statuses below
    meta = events.select(
        "id",
        *[F.col(c).cast("timestamp_ntz").alias(c) for c in ("observation_date", "signing_date")],
        "nonce",
    ).collect()
    if not meta:
        return {}
    g_start = min(ev.observation_date for ev in meta)
    g_end = max(ev.observation_date for ev in meta) + EVENT_WINDOW

    ev_loc = events.select(
        F.col("id").alias("event_id"),
        "observation_date",
        F.explode("locations").alias("station_id"),
    )
    day = F.expr("interval 1 day")  # EVENT_WINDOW

    # -- forecasts: one widened scan, per-event window predicates after
    #    the broadcast dim join, two-level rollup keyed by event too
    fc_lake = lake.read_lake(
        spark, lake_root, lake.FORECASTS, start=queries.scan_start_widened(g_start), end=g_end
    )
    fcj = fc_lake.join(F.broadcast(ev_loc), "station_id").filter(
        (F.date_trunc("day", F.col("begin_time")) >= F.col("observation_date"))
        & (F.date_trunc("day", F.col("end_time")) <= F.col("observation_date") + day)
    )
    fc_daily = queries.forecasts_daily(
        fcj, keys=("event_id", "observation_date")
    ).filter(F.col("date") == F.date_format("observation_date", "yyyy-MM-dd"))

    # -- observations: only events whose window has started (J8)
    ob_loc = ev_loc.filter(F.col("observation_date") <= utc_lit(now))
    ob_lake = lake.read_lake(spark, lake_root, lake.OBSERVATIONS, start=g_start, end=g_end)
    obj = ob_lake.join(F.broadcast(ob_loc), "station_id").filter(
        (F.col("generated_at") >= F.col("observation_date"))
        & (F.col("generated_at") <= F.col("observation_date") + day)
    )
    ob_daily = queries.observations_daily(obj, keys=("event_id",))

    # -- weather snapshot: forecast required, observed optional (J8);
    #    observed temps round half-away-from-zero (Spark ROUND = HALF_UP)
    ob_side = ob_daily.select(
        "event_id",
        "station_id",
        F.struct(
            F.col("start_time").alias("date"),
            F.round("temp_low", 0).cast("long").alias("temp_low"),
            F.round("temp_high", 0).cast("long").alias("temp_high"),
            F.col("wind_speed").cast("long").alias("wind_speed"),
        ).alias("observed"),
    )
    snapshot = (
        fc_daily.join(ob_side, ["event_id", "station_id"], "left")
        .select(
            F.expr("uuid()").alias("id"),
            "event_id",
            "station_id",
            "observed",
            F.struct(
                F.col("start_time").alias("date"),
                F.col("temp_low").cast("long").alias("temp_low"),
                F.col("temp_high").cast("long").alias("temp_high"),
                F.col("wind_speed").cast("long").alias("wind_speed"),
            ).alias("forecasted"),
        )
    )
    store.append_frame("weather", snapshot)

    # -- scoring: entries of events that have >= 1 observation row
    active_ids = events.select(F.col("id").alias("event_id"))
    entries_all = store.read("entries").join(active_ids, "event_id", "left_semi")
    events_with_obs = ob_daily.select("event_id").distinct()
    to_score = (
        entries_all.select(F.col("id").alias("entry_id"), "event_id")
        .join(events_with_obs, "event_id", "left_semi")
    )
    if to_score.limit(1).count() > 0:
        choices = store.read("choices").join(
            entries_all.select(F.col("id").alias("entry_id")), "entry_id", "left_semi"
        )
        scored = etl.score_entries_batch(
            to_score, etl.choices_long(choices), fc_daily, ob_daily
        )
        store.update_scores(scored)

    # -- statuses + signing (control-plane; winners in one window pass)
    results = {ev.id: _unattested_status(ev.observation_date, now) for ev in meta}
    sign_ids = [
        ev.id
        for ev in meta
        if results[ev.id] == "completed" and ev.signing_date < now
    ]
    if sign_ids:
        # ALL entries of each event, scored or not (etl.winners_batch)
        ents = (
            store.read("entries")
            .filter(F.col("event_id").isin(sign_ids))
            .select(F.col("id").alias("entry_id"), "event_id", "score")
        )
        win_rows = etl.winners_batch(ents).orderBy("event_id", "rank").collect()
        by_event: dict[str, list] = {}
        for w in win_rows:
            by_event.setdefault(w.event_id, []).append(w)
        nonces = {ev.id: ev.nonce for ev in meta}
        signatures = {}
        for ev_id, rows in by_event.items():
            wb = etl.get_winning_bytes([w.canonical_idx for w in rows])
            signatures[ev_id] = (
                signer(nonces.get(ev_id), wb) if signer is not None else sign_stub(wb)
            )
        store.sign_events(signatures)
        for ev_id in signatures:
            results[ev_id] = "signed"
    return results

