"""The bench's compact contract line must stay under the driver's
2,000-char stdout tail (VERDICT r12 item 5 / r13 item 7).

r12 lost its whole per-query artifact because the line measured 2,105
bytes and the driver's bounded tail cut its head — "parsed": null.
This test projects the line's worst-case size from the CURRENT query
registry so a future query addition or rename fails here, in pytest,
instead of silently nulling a round artifact.
"""

import json

from cdc_example_spark.queries import all_queries


def test_compact_contract_line_fits_driver_tail():
    names = sorted(all_queries())
    # worst-case per-query value: "9999.99" (2-decimal rounding in
    # bench.py); worst-case totals/cdc fields padded generously.
    compact = {
        "metric": "suite_total_sec",
        "value": 99999.999,
        "unit": "sec",
        "queries": {n.split("_", 1)[0]: 9999.99 for n in names},
        "n_queries": len(names),
        "cold_total_sec": 99999.999,
        "construct_total_sec": 99999.999,
        "resubmit_total_sec": 99999.999,
        "cdc_apply_events_per_sec": 999999.9,
        "cdc_batch_apply_p50_ms": 99999.9,
        "sf": 0.1,
    }
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1950, (
        f"compact contract line projects to {len(line)} bytes — the "
        "driver records only a 2,000-char stdout tail and a clipped "
        "line parses as null (the r12 artifact loss). Shorten the "
        "per-query keys (bench.py uses the qNN prefix) or drop a field."
    )
    # the qNN-prefix keys must stay unique, or two queries would
    # collapse into one entry and the driver would see a dropped query
    prefixes = [n.split("_", 1)[0] for n in names]
    assert len(set(prefixes)) == len(prefixes)
