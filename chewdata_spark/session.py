"""SparkSession factory tuned for the engine.

Defaults target local[$SPARK_GRAFT_CPUS] test runs but every knob is
chosen for cluster scale: AQE handles runtime re-planning (skew joins,
partition coalescing), shuffle partitions default to the core count
locally (set to 2-3x total executor cores on a real cluster), and the
broadcast threshold is generous because our dimension tables (region,
nation, supplier, part at typical ratios) are tiny next to the fact
tables.  The generated-code cache is sized to hold a whole suffix-array
pipeline's classes, so a session that reruns a config (CLI, service,
bench) compiles them once instead of on every run.  Streaming
checkpoint and state-store files go through Spark's FileSystem
checkpoint manager, which writes them without starting a process per
file where the native Hadoop library is missing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cgroup_limit_paths(proc_cgroup: str | None = None) -> list[str]:
    """Candidate limit files: the process's OWN cgroup and every
    ancestor up to the root, for v2 and v1.  The tightest limit can
    live at any level of the hierarchy (systemd slice, k8s pod without
    a cgroup namespace) — reading only the root paths falls through to
    physical RAM and re-creates the OOM-kill this module prevents."""
    paths: list[str] = []
    if proc_cgroup is None:
        try:
            with open("/proc/self/cgroup") as fh:
                proc_cgroup = fh.read()
        except OSError:
            proc_cgroup = ""
    lines = proc_cgroup.splitlines()
    for line in lines:
        parts = line.split(":", 2)
        if len(parts) != 3:
            continue
        hid, ctrls, rel = parts
        rel = rel.strip("/")
        if hid == "0" and ctrls == "":  # cgroup v2 unified hierarchy
            base, leaf = "/sys/fs/cgroup", "memory.max"
        elif "memory" in ctrls.split(","):  # v1 memory controller
            base, leaf = "/sys/fs/cgroup/memory", "memory.limit_in_bytes"
        else:
            continue
        segs = rel.split("/") if rel else []
        for depth in range(len(segs), -1, -1):
            sub = "/".join(segs[:depth])
            paths.append(f"{base}/{sub}/{leaf}" if sub else f"{base}/{leaf}")
    # root fallbacks (also covers a cgroup-namespaced container where
    # /proc/self/cgroup reports "/" — the loop above then emits these)
    paths += [
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ]
    seen: set[str] = set()
    return [p for p in paths if not (p in seen or seen.add(p))]


def _host_memory_bytes() -> int:
    """Effective memory ceiling: the tightest cgroup limit along the
    process's own cgroup ancestry (v2 then v1 — containers enforce
    these with the OOM killer, so they dominate) and physical RAM.
    0 if nothing is detectable."""
    limits = []
    for path in _cgroup_limit_paths():
        try:
            with open(path) as fh:
                raw = fh.read().strip()
            if raw.isdigit():
                val = int(raw)
                # v1 reports "no limit" as a huge page-rounded number
                if val < 1 << 50:
                    limits.append(val)
        except OSError:
            continue
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (ValueError, OSError):
        pass
    return min(limits) if limits else 0


def _default_driver_memory() -> str:
    """min(31g, ~45% of the detected host/cgroup memory); '8g' when
    detection fails (the old safe default).  Small hosts stay
    PROPORTIONAL (megabyte granularity, floored at Spark's practical
    512m minimum) — an absolute 2g floor on a 2 GiB cgroup would set
    the heap to 100% of the container limit and re-create the exact
    OOM-kill this function exists to prevent."""
    total = _host_memory_bytes()
    if total <= 0:
        return "8g"
    mb = int(total * 0.45) >> 20
    mb = max(512, min(31 * 1024, mb))
    return f"{mb >> 10}g" if mb >= 2048 and mb % 1024 == 0 else f"{mb}m"


def get_spark(
    app_name: str = "chewdata_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    AQE is enabled so that at 100 TB the runtime coalesces small shuffle
    partitions, converts sort-merge joins to broadcast when a side turns
    out small, and splits skewed partitions — none of which local tests
    need, all of which a 1000-executor run does.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark's generated-code cache holds 100 classes by default, but
        # one char sa_pipeline run generates about 270 distinct classes
        # (token about 310, BPE 70 more), so the LRU evicted them all and
        # every warm run compiled them again: about 270 Janino compiles,
        # 2 s per run.  2000 keeps all three grains and their AQE plan
        # variants resident, for about 45 KB of heap and metaspace per class.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Spark's default checkpoint manager (FileContext) checks each
        # rename target with getFileLinkStatus, which Hadoop's local file
        # system runs as a `readlink` process when the native Hadoop
        # library is missing: 464 processes per warm 5-batch etl_stream
        # run (state deltas and their .crc files, offsets, commits),
        # about 0.9 s of child CPU on a 4-core guest.  The FileSystem
        # manager makes the same exists-then-rename check in-process.
        # The guarantee is unchanged: on file: both check that the
        # target exists before renaming, HDFS rename refuses an existing
        # target, and renameTempFile still raises FileAlreadyExists.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # local mode runs the WHOLE engine in the driver JVM: 8g
        # GC-starved (GCLocker retry storms, then JVM death) once a
        # full bench session's accumulated code cache / checkpoint
        # blocks / Arrow JNI buffers met the late heavy queries.  But
        # "-Xmx is reserved, not committed" does NOT hold under cgroup
        # memory limits (a containerized host OOM-kills the JVM as the
        # heap grows), so the default is min(31g, ~45% of the detected
        # host/cgroup limit) rather than a flat 31g.  31g, not 32g: at
        # the 32 GiB boundary HotSpot disables CompressedOops and every
        # pointer-heavy structure grows ~10-40% — the worst possible
        # trade for a fix aimed at GC pressure.  SPARK_GRAFT_DRIVER_MEM
        # overrides outright.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        )
        # long single-JVM sessions (160+ benched queries) need the
        # ContextCleaner to actually run: it only frees checkpoint/
        # shuffle blocks after a driver GC, and a big heap may not GC
        # for a long time on its own
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
