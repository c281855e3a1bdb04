"""Check of the batch_queries outputs: every entry's row count and content
hash against the committed expected values (perfbench/expected/), which
come from DuckDB."""


def failures(ops, expected):
    """{op id: reason} for every successful query operation whose result
    differs from `expected[name]` ({"rows", "hash"}). Operations that are
    not query entries are skipped."""
    out = {}
    for o in ops:
        if not o["ok"] or o["name"] not in expected:
            continue
        want, got = expected[o["name"]], o["info"]
        if (got.get("rows"), got.get("hash")) != (want["rows"], want["hash"]):
            out[o["id"]] = "%s: rows %s hash %s, expected rows %s hash %s" % (
                o["name"], got.get("rows"), got.get("hash"), want["rows"], want["hash"])
    return out
