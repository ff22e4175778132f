"""Golden digest of the extraction kernel's outputs.

Every ``Result`` field of the sf0.001 and sf0.01 probe pages, under four
option sets, is hashed into one sha256. ``parse_time_ms`` and the debug
``timings`` are wall-clock readings and are left out. Any change to any
output of these pages changes the digest, so a refactor that claims byte
identity is checked here. A change meant to alter outputs recomputes
``GOLDEN`` and says in its changelog entry why the outputs moved.
"""

import dataclasses
import hashlib
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from __spark_entry__ import SF_001  # noqa: E402
from defuddle_spark.kernel import Options, extract_document_bytes  # noqa: E402
from tools.kernel_probe import build_pages  # noqa: E402

_HN = "https://news.ycombinator.com/item?id=1"
_PROCESS_ALL = {f"process_{k}": True for k in
                ("code", "images", "headings", "math", "footnotes", "roles")}

# (pass the page url?, options). The last set passes no url, so the
# kernel falls back to options.url and dispatches on the HN domain.
OPTION_SETS = (
    (True, Options()),
    (True, Options(debug=True)),
    (True, Options(markdown=True, **_PROCESS_ALL)),
    (False, Options(remove_images=True, url=_HN)),
)

GOLDEN = "278901bbd9b3f1b52d9be02bac920be1acb198954e01880ce230c235f479f63b"


def kernel_digest(sf_dirs) -> str:
    h = hashlib.sha256()
    for sf_dir in sf_dirs:
        for url, html in build_pages(sf_dir, 500):
            for with_url, options in OPTION_SETS:
                r = extract_document_bytes(html, url=url if with_url else "",
                                           options=options)
                fields = dataclasses.asdict(r)
                del fields["parse_time_ms"]
                if fields["debug_info"] is not None:
                    del fields["debug_info"]["timings"]
                h.update(json.dumps(fields, sort_keys=True).encode())
    return h.hexdigest()


def test_kernel_outputs_match_golden_digest():
    data = Path(SF_001).parent
    assert kernel_digest([SF_001, str(data / "sf0.01")]) == GOLDEN
