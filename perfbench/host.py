"""Host and build record attached to every result, and the same-host rule
the compare step enforces."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
from pathlib import Path

# Fields that must agree for two records to be compared.
HOST_KEYS = ("nproc", "cpu_model", "mem_total_kb", "spark_graft_cpus",
             "shuffle_partitions", "pyspark", "java")


def _cpu_model() -> str:
    try:
        for line in Path("/proc/cpuinfo").read_text().splitlines():
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _mem_total_kb() -> int:
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def source_digest(root: Path) -> str:
    """sha256 over the package's Python sources: identifies the code under
    test when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted((root / "fest_vibes_ai_etl_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def commit(root: Path) -> str | None:
    try:
        out = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def host_record(spark, root: Path) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpu_model": _cpu_model(),
        "mem_total_kb": _mem_total_kb(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "commit": commit(root),
        "source_digest": source_digest(root),
    }


def same_host(a: dict, b: dict) -> list[str]:
    """Host fields on which two records disagree (empty = comparable)."""
    return [k for k in HOST_KEYS if a.get(k) != b.get(k)]


def jvm_peak_rss_kb(pid: int | None) -> int:
    if not pid:
        return 0
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0
