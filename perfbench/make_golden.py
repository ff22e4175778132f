"""Record the expected extraction of every heavy-tail nesting page.

The digests in ``golden_nested.json`` pin the kernel's output on the
unclosed-tag pages of the ``extract_heavy_tail`` workload byte for byte:
a change that alters ``content`` or ``extracted_text`` for any depth in
``inputs.NEST_DEPTHS`` fails that workload's check. Regenerate only when
an output change is intended:

    python3 perfbench/make_golden.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
from defuddle_spark.kernel import extract_document_bytes  # noqa: E402


def digest(depth: int, k: int) -> str:
    url = inputs.NEST_URL.format(depth=depth, k=k)
    r = extract_document_bytes(inputs.nested_html(depth), url=url)
    if r.error is not None:
        raise SystemExit(f"depth {depth}: extraction error {r.error}")
    return inputs.nested_digest(r.content, r.extracted_text)


def main() -> None:
    lo, hi = inputs.NEST_DEPTHS
    digests = {}
    for depth in range(lo, hi + 1):
        digests[str(depth)] = digest(depth, 0)
    # the page's url must not change its output, or one digest per depth
    # would not cover every url the generator draws
    for depth in (lo, (lo + hi) // 2, hi):
        if digest(depth, 7) != digests[str(depth)]:
            raise SystemExit(f"depth {depth}: output depends on the url")
    with open(inputs.GOLDEN, "w") as f:
        json.dump({"depths": [lo, hi], "digests": digests}, f, indent=0,
                  sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
