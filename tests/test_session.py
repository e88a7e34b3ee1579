"""Host-sized defaults, checked without starting a JVM: the driver heap
rule in session.py and the A/B script's load gate and core count."""

import importlib.util
import os

from fastpasta_spark.session import driver_memory, mem_total_kb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_memory_is_half_the_host_ram():
    gib = 1024 * 1024  # kB
    assert driver_memory(16 * gib) == "8192m"
    assert driver_memory(15 * gib + 123) == "7680m"  # floor, never over half
    assert driver_memory(1 * gib) == "512m"
    assert driver_memory(64 * gib) == "32768m"


def test_driver_memory_override_wins_and_unknown_ram_defers():
    assert driver_memory(16 * 1024 * 1024, "6g") == "6g"
    assert driver_memory(None, "2g") == "2g"
    assert driver_memory(None) is None  # Spark's own default applies
    assert driver_memory(16 * 1024 * 1024, "") == "8192m"  # empty = unset


def test_mem_total_kb_parses_meminfo(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemFree:         1000 kB\n"
                 "MemTotal:       16318484 kB\n"
                 "Buffers:          200 kB\n")
    assert mem_total_kb(str(p)) == 16318484
    p.write_text("MemFree: 1000 kB\n")
    assert mem_total_kb(str(p)) is None
    assert mem_total_kb(str(tmp_path / "missing")) is None


def _load_ab_bench(monkeypatch, cpus, env):
    monkeypatch.setattr(os, "cpu_count", lambda: cpus)
    for k in ("AB_LOAD_GATE", "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    spec = importlib.util.spec_from_file_location(
        "ab_bench", os.path.join(REPO, "scripts", "ab_bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ab_bench_defaults_scale_with_the_host(monkeypatch):
    ab = _load_ab_bench(monkeypatch, 4, {})
    assert (ab.LOAD_GATE, ab.bench_cpus()) == (0.5, 4)
    ab = _load_ab_bench(monkeypatch, 32, {})
    assert (ab.LOAD_GATE, ab.bench_cpus()) == (4.0, 32)
    ab = _load_ab_bench(monkeypatch, 4, {"AB_LOAD_GATE": "3",
                                         "SPARK_GRAFT_CPUS": "2"})
    assert (ab.LOAD_GATE, ab.bench_cpus()) == (3.0, 2)
    ab = _load_ab_bench(monkeypatch, 4, {"SPARK_GRAFT_CPUS": "32"})
    assert ab.bench_cpus() == 4  # never more cores than the host has
