"""Driver-side cost locks for the rule fold: py4j round trips per rule.

Building a fold is pure driver work, and on PySpark 4.1 its cost is
dominated by JVM round trips: every ``Column`` method and ``F.col`` call
captures its call site (about a dozen round trips each), and every empty
frame the validation dry run makes costs about 33.  This file counts the
commands the Python side sends (``send_command``, memory-release commands
excluded) for ``validate_rules`` and ``SparkPlug.plug`` on one seeded rule
chain at n and 2n rules, and locks the per-rule slope, so that fixed set-up
drift does not trip it while per-rule regressions do:

- a per-rule empty frame or per-rule analysis in validation (the design
  before the one-analysis dry run: 240 round trips per rule on this chain);
- rebuilding ``F.col``/typed nulls per use, or an always-built change gate,
  in the fold (336 per rule on this chain before they were shared).

It also pins that validating a clean set makes ONE empty frame, whatever
the rule count.
"""

import threading

import pytest
from py4j import clientserver, java_gateway, protocol
from pyspark.sql import SparkSession

from sparkplug_spark import PlugAction, PlugRule, SparkPlug
from sparkplug_spark.validation import validate_rules

# Measured slopes (round trips per rule, PySpark 4.1.2) on this chain are
# 91 for validate_rules and 227 for SparkPlug.plug; the caps leave ~25%
# headroom and stay well below the older designs' 240 and 336.
VALIDATE_SLOPE_CAP = 115
PLUG_SLOPE_CAP = 285

N = 6


def _chain(n):
    """Rule k writes a tag that rule k+1 tests; literal, backtick and
    nested-struct actions rotate so every n has the same mix per rule."""
    rules = []
    for k in range(n):
        actions = [PlugAction("tag", f"t{k + 1}")]
        if k % 3 == 0:
            actions.append(PlugAction("qty", "`qty + 1`"))
        elif k % 3 == 1:
            actions.append(PlugAction("meta.prio", "HIGH"))
        else:
            actions.append(PlugAction("price", f"{k}.5"))
        cond = "tag IS NULL" if k == 0 else f"tag = 't{k}' OR qty > {k}"
        rules.append(PlugRule(f"r{k:02d}", "v1", cond, tuple(actions)))
    return rules


class _RoundTrips:
    """Counts py4j commands sent from the calling thread."""

    def __init__(self, monkeypatch):
        self.n = 0
        self._thread = threading.get_ident()
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send(conn, command, _orig=orig):
                if threading.get_ident() == self._thread and not command.startswith(
                    protocol.MEMORY_COMMAND_NAME
                ):
                    self.n += 1
                return _orig(conn, command)

            monkeypatch.setattr(cls, "send_command", send)

    def count(self, fn):
        n0 = self.n
        fn()
        return self.n - n0


@pytest.fixture
def frame(spark):
    return spark.createDataFrame(
        [(1, 10.0, 3, None, ("LOW",))],
        "id long, price double, qty long, tag string, meta struct<prio: string>",
    )


def test_validate_rules_one_frame_and_flat_slope(spark, frame, monkeypatch):
    schema = frame.schema
    assert validate_rules(schema, _chain(N), spark=spark) == []  # warm-up

    frames = []
    orig = SparkSession.createDataFrame

    def create(self, *a, **kw):
        frames.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(SparkSession, "createDataFrame", create)
    rt = _RoundTrips(monkeypatch)
    costs = {}
    for n in (N, 2 * N):
        frames.clear()
        costs[n] = rt.count(lambda: validate_rules(schema, _chain(n), spark=spark))
        assert len(frames) == 1, f"{len(frames)} empty frames for {n} rules"
    slope = (costs[2 * N] - costs[N]) / N
    assert slope <= VALIDATE_SLOPE_CAP, (costs, slope)


def test_plug_slope(spark, frame, monkeypatch):
    engine = SparkPlug.builder(spark).enable_plug_details().create()
    engine.plug(frame, _chain(N))  # warm-up
    rt = _RoundTrips(monkeypatch)
    costs = {n: rt.count(lambda: engine.plug(frame, _chain(n))) for n in (N, 2 * N)}
    slope = (costs[2 * N] - costs[N]) / N
    assert slope <= PLUG_SLOPE_CAP, (costs, slope)
