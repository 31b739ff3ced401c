"""The ingest generator and its expectation model (no Spark)."""

from __future__ import annotations

import statistics
from datetime import timedelta

from perfbench import fleet


def test_plan_is_seeded():
    assert fleet.plan_fleet(5, 4, 4) == fleet.plan_fleet(5, 4, 4)
    assert fleet.plan_fleet(5, 4, 4) != fleet.plan_fleet(6, 4, 4)


def test_plan_mix_is_fixed_for_every_seed():
    for seed in range(20):
        plan = fleet.plan_fleet(seed, 4, 8)
        store, publish = plan.phase("store"), plan.phase("publish")
        assert [f.op for f in plan.fetches] == list(range(12))
        assert not store[0].fails and store[0].refetch_of is None
        assert sum(f.refetch_of is not None for f in store) == 2
        assert not any(f.fails for f in store)
        assert sum(f.fails for f in publish) == 2
        assert sum(f.refetch_of is not None for f in publish) == 2
        assert len(plan.poison_lines) == 2


def test_refetch_repeats_an_earlier_store_station_with_a_shifted_window():
    for seed in range(20):
        plan = fleet.plan_fleet(seed, 4, 8)
        by_op = {f.op: f for f in plan.fetches}
        for f in plan.fetches:
            if f.refetch_of is None:
                continue
            prev = by_op[f.refetch_of]
            assert prev.phase == "store" and prev.op < f.op
            assert (prev.lat, prev.lon, prev.source) == (f.lat, f.lon, f.source)
            assert abs((f.start - prev.start).days) == 2


def test_publish_fetches_share_no_key():
    for seed in range(20):
        plan = fleet.plan_fleet(seed, 4, 8)
        seen: set = set()
        for f in plan.phase("publish"):
            if f.fails:
                continue
            keys = {r[:3] for r in fleet.observations(seed, f)}
            assert not keys & seen
            seen |= keys


def test_payload_layouts_carry_the_observations():
    plan = fleet.plan_fleet(3, 2, 2)
    for f in plan.fetches:
        rows = fleet.observations(3, f)
        assert len(rows) == fleet.HOURS
        assert rows[-1][2] - rows[0][2] == timedelta(hours=fleet.HOURS - 1)
        p = fleet.payload(3, f)
        if f.source == "meteo":
            assert p["hourly"]["temperature_2m"] == [r[3] for r in rows]
            assert p["hourly"]["time"][0] == rows[0][2].strftime("%Y-%m-%dT%H:%M")
        else:
            series = p["properties"]["timeseries"]
            assert [s["data"]["instant"]["details"]["wind_speed"] for s in series] == [
                r[5] for r in rows
            ]
            assert p["geometry"]["coordinates"][:2] == [f.lon, f.lat]


def test_expectation_last_write_wins_and_failures_land_nothing():
    base = fleet.BASE_DAY
    a = fleet.Fetch(0, "store", "meteo", 1.0, 2.0, base, False)
    b = fleet.Fetch(1, "store", "meteo", 1.0, 2.0, base + timedelta(days=1), False, refetch_of=0)
    c = fleet.Fetch(2, "publish", "metno", 3.0, 4.0, base, True)
    exp = fleet.Expectation(seed=9)
    for f in (a, b, c):
        exp.register(f)
        exp.land(f)
    assert len(exp.silver) == fleet.HOURS + 24
    overlap = (1.0, 2.0, base + timedelta(days=1))
    assert exp.silver[overlap][-1] == 1
    assert exp.silver[(1.0, 2.0, base)][-1] == 0
    assert exp.counts() == (fleet.HOURS + 24, 3, 1)
    assert exp.control[2] == ("error", fleet.UPSTREAM_FAILURE_STATUS)
    assert exp.status_label() == "🔴 Error"
    assert exp.first_timestamps(2) == [base, base + timedelta(hours=1)]


def test_describe_matches_spark_semantics():
    exp = fleet.Expectation(seed=0)
    vals = [1.0, 2.0, 4.0, None, 10.0]
    for i, v in enumerate(vals):
        exp.silver[(0.0, 0.0, fleet.BASE_DAY + timedelta(hours=i))] = (v, v, v, 0)
    n, mean, std, lo, p25, p50, p75, hi = exp.describe()["temperature"]
    present = [v for v in vals if v is not None]
    assert (n, lo, hi) == (4, 1.0, 10.0)
    assert mean == statistics.mean(present)
    assert std == statistics.stdev(present)
    # linear interpolation between closest ranks: pos = p * (n - 1)
    assert (p25, p50, p75) == (1.75, 3.0, 5.5)
