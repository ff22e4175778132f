"""Per-document debug surface (internal/debug/debugger.go:12-210).

Tracks removed elements, processing steps, timing information, and parsing
statistics for one kernel invocation. ``get_info()`` returns a plain dict
with the reference's JSON field names (debugger.go struct tags), so it
serializes identically through ``json.dumps`` and survives the Spark
``debug_json`` column; ``get_summary()`` reproduces the reference's
human-readable summary including Go ``time.Duration`` formatting
(``5ms``, ``1.5s``, ``500µs``).

Like the reference, ``AddRemovedElement`` is part of the public API and
is exercised by the transcribed tests; the kernel itself records steps,
timings, and statistics (defuddle.go:411-423,485-537,599-615,927-970).
"""

from __future__ import annotations

import time
from typing import Callable, Dict, List, Optional


def format_go_duration(ns: int) -> str:
    """Go time.Duration.String() (fmt.go): sub-second values pick ns/µs/ms
    with the fraction trimmed; >=1s composes h/m/s."""
    if ns == 0:
        return "0s"
    sign = "-" if ns < 0 else ""
    ns = abs(ns)
    if ns < 1000:
        return f"{sign}{ns}ns"
    if ns < 1_000_000:
        return sign + _trim_frac(ns / 1000) + "µs"
    if ns < 1_000_000_000:
        return sign + _trim_frac(ns / 1_000_000) + "ms"
    total_s = ns / 1_000_000_000
    out = ""
    h = int(total_s // 3600)
    if h:
        out += f"{h}h"
    m = int(total_s // 60) % 60
    if m or h:
        out += f"{m}m"
    s = total_s - 3600 * h - 60 * m
    out += _trim_frac(s) + "s"
    return sign + out


def _trim_frac(v: float) -> str:
    s = f"{v:.9f}".rstrip("0").rstrip(".")
    return s if s else "0"


class Debugger:
    """debugger.go:52-76 — no-op unless constructed enabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.removed_elements: List[dict] = []
        self.processing_steps: List[dict] = []
        self._timings: Dict[str, float] = {}
        self.durations: Dict[str, int] = {}   # op -> nanoseconds
        self.statistics: dict = _statistics()
        self.extractor_used: str = ""

    # --- timers (debugger.go:84-101) ---
    def start_timer(self, operation: str) -> None:
        if self.enabled:
            self._timings[operation] = time.monotonic_ns()

    def end_timer(self, operation: str) -> None:
        if not self.enabled:
            return
        start = self._timings.pop(operation, None)
        if start is not None:
            self.durations[operation] = time.monotonic_ns() - start

    # --- records (debugger.go:104-143) ---
    def add_removed_element(self, selector: str, reason: str,
                            element_type: str, text_content: str,
                            count: int) -> None:
        if not self.enabled:
            return
        if len(text_content) > 100:
            text_content = text_content[:100] + "..."
        self.removed_elements.append({
            "selector": selector, "reason": reason, "count": count,
            "elementType": element_type,
            "textContent": text_content.strip(),
        })

    def add_processing_step(self, step: str, description: str,
                            elements_affected: int, details: str) -> None:
        if not self.enabled:
            return
        self.processing_steps.append({
            "step": step, "description": description,
            "duration": self.durations.get(step, 0),
            "elementsAffected": elements_affected, "details": details,
        })

    def set_statistics(self, **stats) -> None:
        if self.enabled:
            self.statistics = _statistics(**stats)

    def set_extractor_used(self, extractor: str) -> None:
        if self.enabled:
            self.extractor_used = extractor

    # --- output (debugger.go:146-210) ---
    def get_info(self) -> Optional[dict]:
        if not self.enabled:
            return None
        info = {
            "removedElements": self.removed_elements,
            "processingSteps": self.processing_steps,
            "timings": dict(self.durations),
            "statistics": self.statistics,
        }
        if self.extractor_used:
            info["extractorUsed"] = self.extractor_used
        return info

    def get_summary(self) -> str:
        if not self.enabled:
            return "Debug mode is disabled"
        st = self.statistics
        lines = ["=== Defuddle Debug Summary ===", ""]
        if self.extractor_used:
            lines += [f"Extractor Used: {self.extractor_used}", ""]
        lines += [
            "Statistics:",
            f"  Original Elements: {st['originalElementCount']}",
            f"  Final Elements: {st['finalElementCount']}",
            f"  Removed Elements: {st['removedElementCount']}",
            f"  Word Count: {st['wordCount']}",
            f"  Character Count: {st['characterCount']}",
            f"  Images: {st['imageCount']}",
            f"  Links: {st['linkCount']}",
            "",
            "Processing Steps:",
        ]
        for i, step in enumerate(self.processing_steps, 1):
            lines.append(f"  {i}. {step['description']} "
                         f"({format_go_duration(step['duration'])})")
            if step["elementsAffected"] > 0:
                lines.append(f"     Elements affected: "
                             f"{step['elementsAffected']}")
            if step["details"]:
                lines.append(f"     Details: {step['details']}")
        if self.durations:
            lines += ["", "Timing Information:"]
            for op, dur in self.durations.items():
                lines.append(f"  {op}: {format_go_duration(dur)}")
        if self.removed_elements:
            lines += ["", f"Removed Elements "
                          f"({len(self.removed_elements)} total):"]
            reason_counts: Dict[str, int] = {}
            for elem in self.removed_elements:
                reason_counts[elem["reason"]] = (
                    reason_counts.get(elem["reason"], 0) + elem["count"])
            for reason, count in reason_counts.items():
                lines.append(f"  {reason}: {count} elements")
        return "\n".join(lines) + "\n"

    def log_step(self, step: str, description: str,
                 fn: Callable[[], int]) -> None:
        """debugger.go:213-224 — run fn under a timer and record a step."""
        if not self.enabled:
            fn()
            return
        self.start_timer(step)
        affected = fn()
        self.end_timer(step)
        self.add_processing_step(step, description, affected, "")


def _statistics(**kw) -> dict:
    base = {"originalElementCount": 0, "finalElementCount": 0,
            "removedElementCount": 0, "wordCount": 0, "characterCount": 0,
            "imageCount": 0, "linkCount": 0}
    base.update(kw)
    return base
