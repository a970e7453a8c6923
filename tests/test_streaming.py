"""Multi-micro-batch streaming tests: state must carry across batches.

The events table is split into 4 time-ordered parquet files; with
maxFilesPerTrigger=1 each file is its own micro-batch, so dedup state,
window aggregates, and the custom session state all fold across batch
boundaries. Results must equal the batch oracles on the same rows.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest

import levi_spark.streaming.jobs as J

SRC = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def split_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_split")
    # keep ts in the source file's own physical unit — read_events_stream
    # branches on the footer, and the split files must exercise the same
    # path the real testdata takes
    t = pq.read_table(SRC).sort_by("ts")
    n = t.num_rows
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    for i in range(4):
        path = str(d / f"events_{i:02d}.parquet")
        pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        # file-stream sources order batches by (mtime, path): stamp
        # strictly increasing mtimes so arrival order == event-time order
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(d)


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SRC}')")
    yield con
    con.close()


def _drain(stream_df, mode):
    return J._drain_to_memory(stream_df, mode)


def test_multibatch_distinct(spark, split_dir, oracle):
    got = sorted(
        map(
            tuple,
            _drain(
                J.distinct_user_event_stream(
                    J.read_events_stream(spark, split_dir, max_files_per_trigger=1)
                ),
                "append",
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, oracle.execute("SELECT DISTINCT user_id, event_type FROM events").fetchall())
    )
    assert got == want


def test_multibatch_hourly_rollup(spark, split_dir, oracle):
    df = _drain(
        J.hourly_rollup_stream(
            J.read_events_stream(spark, split_dir, max_files_per_trigger=1)
        ),
        "complete",
    )
    got = sorted(map(tuple, df.collect()))
    want = sorted(
        map(
            tuple,
            oracle.execute(
                """
        SELECT strftime(date_trunc('hour', make_timestamp(epoch_ns(ts) // 1000)), '%Y-%m-%d %H:%M'),
               event_type, COUNT(*),
               CAST(SUM(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0
        FROM events GROUP BY 1, 2
        """
            ).fetchall(),
        )
    )
    assert got == want


def test_multibatch_sessionize_state(spark, split_dir, oracle):
    raw = _drain(
        J.sessionize_stream(
            J.read_events_stream(spark, split_dir, max_files_per_trigger=1)
        ),
        "update",
    )
    # update-mode memory sink: last emitted row per user is final;
    # counts are monotone so max == last
    import pyspark.sql.functions as F

    got = sorted(
        map(
            tuple,
            raw.groupBy("user_id")
            .agg(F.max("n_sessions"), F.max("n_events"))
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            oracle.execute(
                """
        SELECT user_id, SUM(__new) AS n_sessions, COUNT(*) AS n_events
        FROM (
          SELECT user_id,
                 CASE WHEN LAG(epoch_ns(ts) // 1000) OVER w IS NULL
                        OR epoch_ns(ts) // 1000 - LAG(epoch_ns(ts) // 1000) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS __new
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) GROUP BY user_id
        """
            ).fetchall(),
        )
    )
    assert got == want


def test_multibatch_session_window(spark, split_dir, oracle):
    """Native session_window state must merge sessions across
    micro-batch boundaries (a session spanning two files is one row)."""
    df = _drain(
        J.session_window_stream(
            J.read_events_stream(spark, split_dir, max_files_per_trigger=1)
        ),
        "complete",
    )
    got = sorted(map(tuple, df.collect()))
    want = sorted(
        map(
            tuple,
            oracle.execute(
                """
        WITH t AS (
          SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
                 CASE WHEN LAG(epoch_ns(ts) // 1000) OVER w IS NULL
                        OR epoch_ns(ts) // 1000 - LAG(epoch_ns(ts) // 1000) OVER w >= 1800000000
                      THEN 1 ELSE 0 END AS __new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT user_id, ts_us,
                 SUM(__new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM t
        )
        SELECT user_id,
               strftime(make_timestamp(MIN(ts_us)), '%Y-%m-%d %H:%M:%S'),
               COUNT(*)
        FROM s GROUP BY user_id, sid
        """
            ).fetchall(),
        )
    )
    assert got == want


def test_multibatch_interval_join(spark, split_dir, oracle):
    # views and purchases arrive in separate time-ordered micro-batches;
    # a view buffered in batch i must still match a purchase arriving in
    # batch i+1 (join state carries across batches until the watermark
    # provably evicts it)
    views = J.read_events_stream(spark, split_dir, max_files_per_trigger=1).where(
        "event_type = 'view'"
    )
    purchases = J.read_events_stream(spark, split_dir, max_files_per_trigger=1).where(
        "event_type = 'purchase'"
    )
    got = sorted(
        map(tuple, _drain(J.interval_join_stream(views, purchases), "append").collect())
    )
    want = sorted(
        map(
            tuple,
            oracle.execute(
                """
        SELECT v.user_id, v.event_id, p.event_id,
               epoch_ns(p.ts) // 1000 - epoch_ns(v.ts) // 1000
        FROM events v JOIN events p
          ON p.user_id = v.user_id
         AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
         AND epoch_ns(p.ts) // 1000 <= epoch_ns(v.ts) // 1000 + 3600000000
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        """
            ).fetchall(),
        )
    )
    assert got and got == want


def test_left_outer_join_emits_complete_null_padded_output(spark, oracle):
    """The sentinel-tail drain must emit EVERY unmatched view as a
    null-padded row (outer stream joins normally withhold the tail
    whose eviction deadline the final watermark never passes) and
    every matched pair exactly once — row-for-row equal to the batch
    LEFT JOIN."""
    out = J.run_left_outer_join(spark, "/root/testdata/sf0.001")
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(
            tuple,
            oracle.execute(
                """
        SELECT v.user_id, v.event_id,
               COALESCE(p.event_id, -1),
               COALESCE(epoch_ns(p.ts) // 1000 - epoch_ns(v.ts) // 1000, -1)
        FROM events v LEFT JOIN events p
          ON p.user_id = v.user_id
         AND p.event_type = 'purchase'
         AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
         AND epoch_ns(p.ts) // 1000 <= epoch_ns(v.ts) // 1000 + 3600000000
        WHERE v.event_type = 'view'
        """
            ).fetchall(),
        )
    )
    assert got == want
    # both behaviors are load-bearing: matches AND null-padded evictions
    unmatched = [r for r in got if r[2] == -1]
    matched = [r for r in got if r[2] != -1]
    assert unmatched and matched
    # no sentinel leakage
    assert all(r[0] >= 0 for r in got)


def test_full_outer_join_emits_both_sides_complete(spark, oracle):
    """Round 8: the FULL OUTER drain must additionally emit every
    unmatched PURCHASE (-1 view id) — the right side's eviction path
    the left-outer gate never exercises — and still match the batch
    FULL JOIN row-for-row."""
    out = J.run_full_outer_join(spark, "/root/testdata/sf0.001")
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(
            tuple,
            oracle.execute(
                """
        SELECT COALESCE(v.user_id, p.user_id),
               COALESCE(v.event_id, -1),
               COALESCE(p.event_id, -1),
               COALESCE(epoch_ns(p.ts) // 1000 - epoch_ns(v.ts) // 1000, -1)
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON p.user_id = v.user_id
         AND epoch_ns(p.ts) // 1000 >= epoch_ns(v.ts) // 1000
         AND epoch_ns(p.ts) // 1000 <= epoch_ns(v.ts) // 1000 + 3600000000
        """
            ).fetchall(),
        )
    )
    assert got == want
    # all three row classes are load-bearing
    assert any(r[1] == -1 for r in got)  # unmatched purchases
    assert any(r[2] == -1 for r in got)  # unmatched views
    assert any(r[1] != -1 and r[2] != -1 for r in got)  # matches
    assert all(r[0] >= 0 for r in got)  # no sentinel leakage


def test_stage_timer_records_and_echoes(monkeypatch, capsys):
    import importlib

    from levi_spark.functions import timing

    monkeypatch.setenv("LEVI_STAGE_TIMING", "1")
    with timing.stage_timer("scope_x", "stage_y"):
        pass
    assert "stage_y" in timing.STAGE_TIMINGS["scope_x"]
    assert timing.STAGE_TIMINGS["scope_x"]["stage_y"] >= 0.0
    assert "[stage] scope_x.stage_y:" in capsys.readouterr().err
    # exceptions propagate and the stage still records
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        with timing.stage_timer("scope_x", "boom"):
            raise RuntimeError("x")
    assert "boom" in timing.STAGE_TIMINGS["scope_x"]
