"""The one place the engine reads Spark's plans and status store.

Two halves, both private Spark JVM API reached through py4j:

* Plan trees. :func:`walk` is a single iterative walk over a JVM plan
  (logical or physical). It follows ``children()`` and ``subqueries()``
  (scalar / IN / EXISTS subquery plans hang off expressions, not
  children), unwraps ``AdaptiveSparkPlanExec`` through ``inputPlan()``
  and ``QueryStageExec`` through ``plan()``, and never enters a cache
  definition: ``InMemoryRelation`` / ``InMemoryTableScanExec`` are
  leaves whose cached plan is an inner child, which the walk does not
  follow. Two predicates sit on it: :func:`scan_level` (analyzed plan;
  the export writers' spread gate) and :func:`executed_scans` (executed
  plan; the scan-audit gate). Nodes are matched on their class's
  simple name, never on the plan's string form.
* The AppStatusStore stage list (:func:`stage_list`) and the
  shuffle / spill readers built on it, shared by bench.py, the audit
  tools and the tests.
"""

from __future__ import annotations

from typing import Iterator

from py4j.protocol import Py4JError, Py4JJavaError, Py4JNetworkError

# Logical-plan nodes whose presence means a frame is NOT scan-level:
# either it already crossed (or will cross) an exchange — so it arrives
# multi-partition at scale and spread()'s partition probe
# (queryExecution().toRdd()) would EXECUTE the upstream shuffle stages
# without the subsequent write reusing them (the r17 dedup dist_input
# finding: ~13s per probe on an exchange-bearing plan) — or it carries
# caller-established row placement/order (Sort, Repartition, limits,
# Offset) that a round-robin spread would silently destroy.
_NON_SCAN_NODES = frozenset(
    {
        "Join",
        "LateralJoin",
        "AsOfJoin",
        "Aggregate",
        "Sort",
        "Window",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "Deduplicate",
        "Distinct",
        "GlobalLimit",
        "LocalLimit",
        "Offset",
        "Intersect",
        "Except",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapGroupsInPandasWithState",
        "FlatMapGroupsInR",
        "FlatMapGroupsInRWithArrow",
        "FlatMapCoGroupsInPandas",
        "FlatMapCoGroupsInArrow",
        "MapGroups",
        "CoGroup",
    }
)

# Executed leaves that read files (DSv1 file source, DSv2 batch, JDBC-
# style row sources, Hive tables).
_FILE_SCANS = frozenset(
    {"FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec", "HiveTableScanExec"}
)
# Scan leaves that read no files: a cached relation, driver-local rows,
# an RDD. Any other ``*ScanExec`` is unknown to the audit and raises.
_NO_FILE_SCANS = frozenset(
    {"InMemoryTableScanExec", "LocalTableScanExec", "RDDScanExec", "ExternalRDDScanExec"}
)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def walk(jplan) -> Iterator[str]:
    """Yield the simple class name of every node of a JVM plan tree,
    depth-first, iteratively (deep plans cannot overflow the Python
    stack). Wrappers are unwrapped, not yielded."""
    stack = [jplan]
    subqueries: list = []  # distinct subquery plans entered so far
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            # pre-execution tree; the adaptive wrapper itself is a leaf
            stack.append(node.inputPlan())
            continue
        if name.endswith("QueryStageExec"):
            try:
                stack.append(node.plan())
            except Py4JError as ex:
                raise RuntimeError(
                    f"cannot unwrap query stage {name} through plan()"
                    " — a plan walk that skipped it would undercount"
                ) from ex
            continue
        yield name
        stack.extend(_seq(node.children()))
        for sub in _seq(node.subqueries()):
            # Spark runs equal subqueries once (subquery reuse): a
            # scalar subquery pushed into a scan's data filters is the
            # Filter's own subquery again, not a second execution
            if not any(sub.equals(seen) for seen in subqueries):
                subqueries.append(sub)
                stack.append(sub)


def scan_level(df) -> bool:
    """True when ``df``'s ANALYZED plan (no execution, no AQE) holds
    none of the exchange- or order-bearing nodes above, subqueries
    included — the frames the export writers may round-robin spread."""
    plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
    return not any(name in _NON_SCAN_NODES for name in walk(plan))


def executed_scans(jplan) -> int:
    """Executed file-scan count of a physical plan
    (``df._jdf.queryExecution().executedPlan()``): every file-reading
    scan leaf the walk reaches, subquery plans included. Cached
    subtrees execute once at cache build and are not entered. Raises,
    naming the class, on a ``*ScanExec`` leaf that is in neither the
    file-reading nor the no-file set, so a new scan kind fails the
    audit loudly instead of reading as zero."""
    n = 0
    for name in walk(jplan):
        if name in _FILE_SCANS:
            n += 1
        elif name.endswith("ScanExec") and name not in _NO_FILE_SCANS:
            raise RuntimeError(
                f"unclassified scan leaf {name}: add it to planinfo's"
                " _FILE_SCANS or _NO_FILE_SCANS"
            )
    return n


# -- AppStatusStore ------------------------------------------------------------


def stage_list(spark):
    """Settled AppStatusStore stage list (listener bus drained first —
    the store is fed asynchronously, so an undrained read can miss a
    just-finished stage or catch a previous job's metrics posting
    mid-window)."""
    jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — drain is best-effort hygiene
        pass
    store = jsc.statusStore()
    jvm = spark._jvm  # noqa: SLF001
    # Spark 4's AppStatusStore.stageList takes (statuses, details,
    # withSummaries, quantiles, taskStatus); empty statuses = all.
    # This is Spark-PRIVATE JVM API reached via py4j (including the
    # Scala default-arg accessor below): a minor upgrade that adds or
    # reorders a parameter would break every observable built on it
    # (bench tripwire, shuffle pins) with an opaque py4j error —
    # translate that into an actionable message (ADVICE r10).
    try:
        return store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            getattr(store, "stageList$default$4")(),
            jvm.java.util.ArrayList(),
        )
    except (Py4JJavaError, Py4JNetworkError):
        # the call RESOLVED and threw in the JVM (OOM, listener-store
        # fault), or the gateway connection dropped — neither is a
        # signature problem; rewrapping them as one would misdirect
        # debugging (ADVICE r11)
        raise
    except Py4JError as ex:
        # non-Java, non-network Py4JError = the member/arity failed to
        # resolve ("Method stageList([...]) does not exist", missing
        # default-arg accessor) — the signature-drift case the message
        # below exists for
        ver = spark.version
        raise RuntimeError(
            "AppStatusStore.stageList signature changed (private Spark"
            f" API; this session runs Spark {ver}, the call matches"
            " 4.x's 5-arg form) — update planinfo.stage_list to the"
            " new signature"
        ) from ex


def stage_marker(spark) -> int:
    """Largest stage id the status store currently holds (-1 on a
    fresh session). Take one BEFORE a serially-executed job and pass
    it to :func:`shuffle_since` after: only stages NEWER than the
    marker are summed, so the measurement is immune to the store
    evicting old stages mid-window (``spark.ui.retainedStages``
    defaults to 1000; in a long session a cumulative-total delta goes
    NEGATIVE when eviction outruns the measured job's own traffic —
    seen as a -2.3 MB "delta" on a zero-shuffle entry in the round-10
    full-suite run)."""
    marker = -1
    it = stage_list(spark).iterator()
    while it.hasNext():
        marker = max(marker, it.next().stageId())
    return marker


def shuffle_since(spark, marker: int) -> tuple[int, int]:
    """(shuffle_write_bytes, shuffle_read_bytes) over stages with id
    greater than ``marker`` (from :func:`stage_marker`). The caller
    must not submit anything else between marker and reading —
    concurrent jobs would fold in. Eviction-safe: old-stage eviction
    cannot touch stages created inside the window (the store evicts
    oldest-first, and a single measured query stays far under the
    retained-stage cap)."""
    w = r = 0
    it = stage_list(spark).iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() > marker:
            w += s.shuffleWriteBytes()
            r += s.shuffleReadBytes()
    return w, r


def shuffle_totals(spark) -> tuple[int, int]:
    """(shuffle_write_bytes, shuffle_read_bytes) summed over every
    RETAINED stage of this application (round 10: the runtime
    complement of the scan-audit plan pins; see
    tools/shuffle_audit.py). Fine as an app-level observable in a
    short-lived session; for before/after deltas use
    :func:`stage_marker` + :func:`shuffle_since` instead — past
    ``spark.ui.retainedStages`` (1000) stages the store evicts
    oldest-first and cumulative deltas can go negative."""
    w = r = 0
    it = stage_list(spark).iterator()
    while it.hasNext():
        s = it.next()
        w += s.shuffleWriteBytes()
        r += s.shuffleReadBytes()
    return w, r


def spill_totals(spark) -> tuple[int, int]:
    """(memory_bytes_spilled, disk_bytes_spilled) summed over every
    stage this application has run — same AppStatusStore/deltas
    contract as ``shuffle_totals`` (round 10). A nonzero DISK figure
    means some task's working set outgrew its execution-memory share
    and paid a serialize-to-disk round-trip: at sf0.1 the whole
    corpus should run spill-free, so bench.py carries the app total
    as a tripwire. Same retained-stage eviction caveat as
    ``shuffle_totals``: as an app tripwire this can only under-report
    once a session exceeds ``spark.ui.retainedStages`` stages —
    bench.py raises that cap in its session so the corpus run stays
    fully covered."""
    mem = disk = 0
    it = stage_list(spark).iterator()
    while it.hasNext():
        s = it.next()
        mem += s.memoryBytesSpilled()
        disk += s.diskBytesSpilled()
    return mem, disk
