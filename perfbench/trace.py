"""Spans recorded from outside the engine, around calls into its layers.

The tracer replaces functions of the engine's modules with wrappers that
open a span per call. A function is replaced wherever a module of the
package holds it as a module-level name, so calls through a name imported
with ``from module import name`` are traced too. References held
elsewhere (in dicts, default arguments or closures) still reach the
original function; see ``untraced_references``.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PACKAGE = "reddit_hn_etl_spark"


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    op: str
    start: float
    end: float = 0.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children may nest or overlap one another; the covered part is the
    length of the union of their intervals, clipped to the parent's.
    """
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.sid, ())
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


def public_functions(module) -> dict[str, object]:
    """Functions a module defines under a name without a leading ``_``."""
    return {
        name: fn
        for name, fn in vars(module).items()
        if inspect.isfunction(fn)
        and not name.startswith("_")
        and fn.__module__ == module.__name__
    }


class Tracer:
    """Spans, py4j round-trip counts and Spark job groups for one run.

    An op phase ``build`` or ``exec`` of op ``p3.q`` runs under the job
    group ``p3.q:build`` or ``p3.q:exec``; py4j calls are counted under
    the same key, and under ``""`` outside any phase.

    ``enabled`` switches recording off without removing the wrappers, so
    traced and untraced passes can alternate in one session.
    """

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = False
        self.op = ""
        self.group = ""
        self.py4j_calls: Counter[str] = Counter()
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._open_phases: dict[str, tuple[str, float]] = {}

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(
            len(self.spans),
            self._stack[-1] if self._stack else None,
            name,
            self.op,
            self.clock(),
        )
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    @contextmanager
    def phase(self, spark, op: str, phase: str):
        """One op phase: a span, the py4j counter key and a job group."""
        self.op, self.group = op, f"{op}:{phase}"
        sc = spark.sparkContext
        if self.enabled:
            sc.setJobGroup(self.group, f"{op} {phase}")
        try:
            with self.span(phase):
                yield
        finally:
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.group = ""

    def add_span(self, name: str, start: float, end: float) -> None:
        """A span known only from its end points, under the open span."""
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(len(self.spans), parent, name, self.op, start, end))

    def write_spans(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

    # -- wrappers ----------------------------------------------------
    def _traced(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_functions(self, named: dict[str, object]) -> None:
        """Replace each function in ``named`` (span name -> function)
        wherever a loaded module of the package binds it by name."""
        by_id = {id(fn): self._traced(fn, name) for name, fn in named.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                wrapped = by_id.get(id(val))
                if wrapped is not None:
                    self._patch(mod, attr, wrapped)

    def wrap_audit(self, audit_cls) -> None:
        """Span each ``AuditLog`` transition, and record the phase it
        brackets (``start_run`` to ``succeed``/``fail``) as a span named
        ``hn_pipeline.<phase>``."""
        tracer = self

        def opener(fn):
            @functools.wraps(fn)
            def start_run(self, phase, *args, **kwargs):
                with tracer.span("audit.start_run"):
                    rec = fn(self, phase, *args, **kwargs)
                if tracer.enabled:
                    tracer._open_phases[rec.run_id] = (phase, tracer.clock())
                return rec

            return start_run

        def closer(fn, name):
            @functools.wraps(fn)
            def close(self, rec, *args, **kwargs):
                opened = tracer._open_phases.pop(rec.run_id, None)
                if opened is not None and tracer.enabled:
                    tracer.add_span(f"hn_pipeline.{opened[0]}", opened[1], tracer.clock())
                with tracer.span(name):
                    return fn(self, rec, *args, **kwargs)

            return close

        self._patch(audit_cls, "start_run", opener(audit_cls.start_run))
        self._patch(audit_cls, "succeed", closer(audit_cls.succeed, "audit.succeed"))
        self._patch(audit_cls, "fail", closer(audit_cls.fail, "audit.fail"))

    def count_py4j(self, client_cls) -> None:
        """Count ``send_command`` round-trips per op phase."""
        send = client_cls.send_command
        tracer = self

        @functools.wraps(send)
        def send_command(self, *args, **kwargs):
            if tracer.enabled:
                tracer.py4j_calls[tracer.group] += 1
            return send(self, *args, **kwargs)

        self._patch(client_cls, "send_command", send_command)

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


def untraced_references(named: dict[str, object]) -> list[str]:
    """Where package modules hold a traced function other than as a
    module-level name: values of module-level dicts, lists and tuples,
    and default arguments of module-level functions. Calls through these
    bypass the wrappers, so operator self times are lower bounds."""
    ids = {id(fn): name for name, fn in named.items()}
    found = []
    for mod_name, mod in sorted(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, val in vars(mod).items():
            items = ()
            if isinstance(val, dict):
                items = val.values()
            elif isinstance(val, (list, tuple)):
                items = val
            elif inspect.isfunction(val):
                items = val.__defaults__ or ()
            for item in items:
                if id(item) in ids:
                    found.append(f"{mod_name}.{attr} -> {ids[id(item)]}")
    return found
