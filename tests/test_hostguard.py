"""Admission-gate semantics (no Spark session needed).

The decay-tail fast path (code-review r5) may only fire when ALL of:
no foreign Spark process, load1 clearly below load5 (falling), and the
container itself near-idle — live external load holds load1 flat or
rising and must keep waiting.
"""

from __future__ import annotations

from islamic_ner_spark import hostguard


def _patch(monkeypatch, *, l1, l5, rate, foreign=()):
    monkeypatch.setattr(hostguard, "load1", lambda: l1)
    monkeypatch.setattr(hostguard, "load5", lambda: l5)
    monkeypatch.setattr(
        hostguard, "container_cpu_rate", lambda sample_s=0.5: rate
    )
    monkeypatch.setattr(
        hostguard, "foreign_spark_processes", lambda root_pid=None: list(foreign)
    )


def test_admits_below_threshold(monkeypatch) -> None:
    _patch(monkeypatch, l1=1.0, l5=5.0, rate=3.0)
    assert hostguard.wait_for_admission(4.0, max_wait_s=1, poll_s=0.01)


def test_decay_tail_admits_falling_idle(monkeypatch) -> None:
    # load 12 but falling (load5 16) with an idle container: our own
    # finished phase's EWMA tail — admit without burning the budget
    _patch(monkeypatch, l1=12.0, l5=16.0, rate=0.1)
    assert hostguard.wait_for_admission(
        4.0, max_wait_s=1, poll_s=0.01, allow_decay_tail=True
    )


def test_decay_tail_bounded_by_absolute_ceiling(monkeypatch) -> None:
    # falling + idle but load1 far above the threshold (> 3x): the shape
    # alone cannot distinguish our own tail from external load winding
    # down while 30 cores stay busy — the fast path must NOT admit
    # (ADVICE r5: require a small absolute multiple of the threshold)
    _patch(monkeypatch, l1=30.0, l5=36.0, rate=0.1)
    assert not hostguard.wait_for_admission(
        4.0, max_wait_s=0, poll_s=0.01, allow_decay_tail=True
    )


def test_zero_threshold_gives_zero_decay_ceiling() -> None:
    # a falsy threshold must not switch the absolute bound off
    assert hostguard.decay_ceiling(0.0) == 0.0
    assert hostguard.decay_ceiling(4.0) == 12.0
    assert hostguard.decay_ceiling(None) is None


def test_decay_tail_requires_opt_in(monkeypatch) -> None:
    _patch(monkeypatch, l1=12.0, l5=16.0, rate=0.1)
    assert not hostguard.wait_for_admission(4.0, max_wait_s=0, poll_s=0.01)


def test_no_decay_admission_when_load_flat(monkeypatch) -> None:
    # flat/rising load = live contention, not a tail
    _patch(monkeypatch, l1=12.0, l5=12.0, rate=0.1)
    assert not hostguard.wait_for_admission(
        4.0, max_wait_s=0, poll_s=0.01, allow_decay_tail=True
    )


def test_no_decay_admission_when_container_busy(monkeypatch) -> None:
    # the container itself is still working — not idle, keep waiting
    _patch(monkeypatch, l1=12.0, l5=16.0, rate=6.0)
    assert not hostguard.wait_for_admission(
        4.0, max_wait_s=0, poll_s=0.01, allow_decay_tail=True
    )


def test_foreign_process_blocks_every_path(monkeypatch) -> None:
    _patch(
        monkeypatch, l1=0.5, l5=16.0, rate=0.0,
        foreign=[(123, "java SparkSubmit")],
    )
    assert not hostguard.wait_for_admission(
        4.0, max_wait_s=0, poll_s=0.01, allow_decay_tail=True
    )
