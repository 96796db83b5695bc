"""The CPU meter: this process's CPU, and readings that never go down."""

import os

from cpu import CpuMeter, process_ms, thread_ms


def _spin(ms: float) -> None:
    end = process_ms(os.getpid()) + ms
    while process_ms(os.getpid()) < end:
        sum(range(10_000))


def test_own_process_cpu_counts_as_app():
    meter = CpuMeter()
    before = meter.read()
    _spin(50)
    after = meter.read()
    assert after["app"] - before["app"] >= 50
    assert after["jit"] == after["gc"] == 0.0


def test_thread_readings_cover_named_threads_only():
    main = thread_ms(os.getpid(), (open("/proc/self/comm").read().strip(),))
    assert os.getpid() in main and main[os.getpid()] > 0
    assert thread_ms(os.getpid(), ("no such thread name",)) == {}


def test_ended_tasks_keep_their_last_reading():
    meter = CpuMeter()
    assert meter._keep("jit", {1: 10.0, 2: 5.0}) == 15.0
    # task 2 ended: its time stays in the total, so app (process total
    # minus jit) does not jump by it
    assert meter._keep("jit", {1: 12.0}) == 17.0
