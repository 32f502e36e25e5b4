"""Outside-in tracer: spans around each call into an engine layer.

A span records (id, layer, parent, request, start, exec start, end) and
tags the Spark jobs it submits with its own job group. Nothing is read
from the JVM while the benchmark runs, except the CacheManager entry count
at span edges. When the run ends, :meth:`Tracer.report` reads Spark's own
status stores once (jobs, stages, per-stage operator graphs and SQL
metrics; all readable with the UI disabled) and attributes them to spans.

With tracing off, :meth:`Tracer.span` records nothing and sets no job
group, so untraced runs measure the engine alone.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

#: stages whose operator graph contains the key are reported as the value's
#: layer instead of the span's (the tokenize UDF inside index builds)
OPERATOR_LAYERS = {"ArrowEvalPython": "analysis"}
#: layers whose stages are split by OPERATOR_LAYERS
SPLIT_LAYERS = ("index.builder", "setup")


@dataclass
class Span:
    id: int
    layer: str
    parent: int | None
    request: int | None
    t0: float
    t_exec: float | None = None
    t1: float | None = None
    cache_before: int = 0
    cache_after: int = 0
    extra: dict = field(default_factory=dict)

    def exec(self) -> None:
        """Mark the start of the action on the DataFrame the call returned."""
        self.t_exec = time.time()


class _NoSpan:
    def __init__(self):
        self.extra: dict = {}

    def exec(self) -> None:
        pass


def _iter(seq):
    """Iterate a Scala collection through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _epoch_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _cached_entries(self) -> int:
        return int(self.spark._jsparkSession.sharedState().cacheManager().numCachedEntries())

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        gid = f"{GROUP_PREFIX}{span.id}" if span else None
        sc.setLocalProperty("spark.jobGroup.id", gid)
        sc.setLocalProperty("spark.job.description", gid)

    @contextmanager
    def span(self, layer: str, request: int | None = None):
        if not self.enabled:
            yield _NoSpan()
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            layer=layer,
            parent=parent.id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
            t0=time.time(),
            cache_before=self._cached_entries(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            sp.cache_after = self._cached_entries()
            self._stack.pop()
            self._set_group(parent)

    # ------------------------------------------------------------------
    # reading the status stores
    # ------------------------------------------------------------------

    def _span_of_job(self, group: str | None, submitted: float | None) -> Span | None:
        if group and group.startswith(GROUP_PREFIX):
            return self.spans[int(group[len(GROUP_PREFIX):])]
        # untagged (e.g. submitted from a thread the engine started): the
        # innermost span open when the job was submitted
        if submitted is None:
            return None
        open_spans = [s for s in self.spans if s.t0 <= submitted <= (s.t1 or submitted)]
        return max(open_spans, key=lambda s: s.t0) if open_spans else None

    def report(self) -> list[dict]:
        """One record per span: its own jobs, stages, tasks, executor run
        time, shuffle and spill, time outside any running stage, change in
        CacheManager entries, and stages split out by SQL operator."""
        if not self.enabled:
            return []
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        store = jsc.statusStore()

        stage_span: dict[int, Span] = {}
        span_jobs: dict[int, list[int]] = {s.id: [] for s in self.spans}
        for job in _iter(store.jobsList(None)):
            g = job.jobGroup()
            sp = self._span_of_job(g.get() if g.isDefined() else None, _epoch_s(job.submissionTime()))
            if sp is None:
                continue
            span_jobs[sp.id].append(int(job.jobId()))
            for sid in _iter(job.stageIds()):
                # a stage id first appears in the job that runs it; later
                # jobs list it as skipped
                stage_span.setdefault(int(sid), sp)

        empty = sc._gateway.new_array(sc._jvm.double, 0)
        per_span = {
            s.id: {"stages": 0, "tasks": 0, "executor_run_s": 0.0, "shuffle_write_bytes": 0,
                   "spill_bytes": 0, "intervals": [], "split": {}}
            for s in self.spans
        }
        for st in _iter(store.stageList(None, False, False, empty, None)):
            status = st.status().toString()
            if status not in ("COMPLETE", "FAILED"):
                continue
            sp = stage_span.get(int(st.stageId()))
            if sp is None:
                continue
            rec = {
                "stages": 1,
                "tasks": int(st.numTasks()),
                "executor_run_s": st.executorRunTime() / 1000.0,
                "shuffle_write_bytes": int(st.shuffleWriteBytes()),
                "spill_bytes": int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
            }
            target = per_span[sp.id]
            if sp.layer.startswith(SPLIT_LAYERS):
                ops = self._stage_operators(store, int(st.stageId()))
                for op, layer in OPERATOR_LAYERS.items():
                    if any(op in name for name in ops):
                        target = target["split"].setdefault(
                            layer, {k: 0 for k in rec} | {"intervals": []}
                        )
                        break
            for k, v in rec.items():
                target[k] += v
            t_sub, t_done = _epoch_s(st.submissionTime()), _epoch_s(st.completionTime())
            if t_sub is not None and t_done is not None:
                target["intervals"].append((t_sub, t_done))
                if target is not per_span[sp.id]:
                    per_span[sp.id]["intervals"].append((t_sub, t_done))

        # driver_s of a span counts the stages of its whole subtree
        subtree = {s.id: list(per_span[s.id]["intervals"]) for s in self.spans}
        for s in self.spans:
            p = s.parent
            while p is not None:
                subtree[p].extend(per_span[s.id]["intervals"])
                p = self.spans[p].parent

        scans = self._postings_scan_rows(span_jobs)

        out = []
        for s in self.spans:
            agg = per_span[s.id]
            t_end = s.t1 or s.t0
            t_exec = s.t_exec if s.t_exec is not None else t_end
            wall = t_end - s.t0
            rec = {
                "id": s.id,
                "layer": s.layer,
                "parent": s.parent,
                "request": s.request,
                "start": s.t0,
                "end": t_end,
                "build_s": t_exec - s.t0,
                "exec_s": t_end - t_exec,
                "driver_s": wall - _covered(subtree[s.id], s.t0, t_end),
                "jobs": len(span_jobs[s.id]),
                "stages": agg["stages"],
                "tasks": agg["tasks"],
                "executor_run_s": agg["executor_run_s"],
                "shuffle_write_bytes": agg["shuffle_write_bytes"],
                "spill_bytes": agg["spill_bytes"],
                "cached_tables_delta": s.cache_after - s.cache_before,
                "postings_scan_rows": scans.get(s.id, 0),
                **s.extra,
            }
            for layer, sub in agg["split"].items():
                rec[f"split.{layer}"] = {k: v for k, v in sub.items() if k != "intervals"}
            out.append(rec)
        return out

    def _stage_operators(self, store, stage_id: int) -> list[str]:
        names = []

        def walk(cluster):
            names.append(cluster.name())
            for child in _iter(cluster.childClusters()):
                walk(child)

        try:
            walk(store.operationGraphForStage(stage_id).rootCluster())
        except Exception:  # noqa: BLE001 - graph evicted from the store
            return []
        return names

    def _postings_scan_rows(self, span_jobs: dict[int, list[int]]) -> dict[int, int]:
        """Rows read by scans of the block-max postings table, per span,
        from the SQL 'number of output rows' metric."""
        job_span = {j: sid for sid, jobs in span_jobs.items() for j in jobs}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[int, int] = {}
        for ex in _iter(sql.executionsList()):
            job_ids = [int(j) for j in _iter(ex.jobs().keys())]
            sids = {job_span[j] for j in job_ids if j in job_span}
            if len(sids) != 1:
                continue
            sid = sids.pop()
            if not self.spans[sid].layer.startswith("search.wand"):
                continue
            values = sql.executionMetrics(ex.executionId())
            for node in _iter(sql.planGraph(ex.executionId()).allNodes()):
                if node.name() not in ("InMemoryTableScan", "Scan parquet ") or "doc_bytes" not in node.desc():
                    continue
                for m in _iter(node.metrics()):
                    if m.name() == "number of output rows" and values.contains(m.accumulatorId()):
                        out[sid] = out.get(sid, 0) + int(values.get(m.accumulatorId()).get().replace(",", ""))
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
