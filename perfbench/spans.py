"""Spans around calls into the engine's public functions.

``Tracer.install()`` replaces each traced function, wherever a loaded
engine module holds a reference to it, with a wrapper that records a
span ``(layer, start, end)`` in memory.  Nothing under the engine
package changes on disk, and the untraced run never calls ``install``.
A call nested inside another call of the same layer records no second
span, so a layer's total is wall time inside the layer.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from dataclasses import dataclass, field

PKG = "automated_batch_data_pipeline_nyc_spark"

# layer -> (module, attribute names); module is relative to the package.
TRACED = {
    "sources.read": ("sources.readers", ["read_parquet"]),
    "sources.write": ("sources.writers", ["write_parquet"]),
    "sources.commit": ("sources.txlog", ["commit"]),
    "plans.run": ("plans.pipeline", ["run_reference_pipeline", "Pipeline.run"]),
    "quality.gate": (
        "operators.quality",
        [
            "expect_nonempty",
            "expect_no_nulls",
            "expect",
            "expect_unique_key",
            "expect_values_between",
            "expect_referential_integrity",
        ],
    ),
}
# Layers whose calls write files: bytes and files they add are counted.
WRITERS = {"sources.write", "sources.commit"}


@dataclass
class Span:
    layer: str
    start: float
    end: float


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    bytes_written: dict[str, int] = field(default_factory=dict)
    files_written: dict[str, int] = field(default_factory=dict)
    _open: set[str] = field(default_factory=set)

    def wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if layer in tracer._open:
                return fn(*args, **kwargs)
            tracer._open.add(layer)
            target = _target_path(layer, args, kwargs)
            before = _files(target) if target else {}
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.time()
                tracer._open.discard(layer)
                tracer.spans.append(Span(layer, start, end))
                if target:
                    new = {p: s for p, s in _files(target).items() if before.get(p) != s}
                    tracer.bytes_written[layer] = tracer.bytes_written.get(layer, 0) + sum(new.values())
                    tracer.files_written[layer] = tracer.files_written.get(layer, 0) + len(new)

        traced.__wrapped_layer__ = layer
        return traced

    def install(self) -> None:
        """Patch every loaded reference to the traced functions."""
        for layer, (modname, attrs) in TRACED.items():
            mod = sys.modules.get(f"{PKG}.{modname}") or __import__(f"{PKG}.{modname}", fromlist=["_"])
            for attr in attrs:
                if "." in attr:  # a method: patch the class attribute
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    setattr(cls, meth, self.wrap(layer, getattr(cls, meth)))
                    continue
                original = getattr(mod, attr)
                wrapper = self.wrap(layer, original)
                for name, m in list(sys.modules.items()):
                    if not (name == PKG or name.startswith(PKG + ".")) or m is None:
                        continue
                    for key, val in list(vars(m).items()):
                        if val is original:
                            setattr(m, key, wrapper)

    def total_s(self, layer: str, windows: list[tuple[float, float]]) -> float:
        """Seconds of ``layer`` spans that start inside the windows (epoch s)."""
        return sum(s.end - s.start for s in self.spans if s.layer == layer and _inside(s.start, windows))

    def windows_of(self, layer: str, windows: list[tuple[float, float]]) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.layer == layer and _inside(s.start, windows)]


def _inside(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(s <= t <= e for s, e in windows)


def _target_path(layer: str, args, kwargs) -> str | None:
    """The output path of a writer call: its second argument."""
    if layer not in WRITERS:
        return None
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    return path if isinstance(path, str) else None


def _files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out
