"""Checks of the votes_pipeline outputs against the generator's truth.

`check(corpus, ops, export_dir)` returns ({op id: reason} for failed
operations, quality metrics). Matches and merges are compared with the
planted truth; the service rows and the renamed votes after the edits are
counted against the planned edits; the exported CSVs are re-parsed and
every cell of every member is compared with the generated cell, after the
edits' expected effect (removed service rows drop a column, added ones add
a blank one).
"""
import csv
import io
import os

from . import gen_votes


def expected_service_rows(corpus):
    rows = {(corpus.survivor(r), y, c, d, p) for (r, y, c, d, p) in corpus.service}
    keyed = {(r, y, c) for (r, y, c, _, _) in rows}
    return len(rows) - len(corpus.removals) + len(corpus.additions - keyed)


def _read_csv(path):
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.reader(io.StringIO(f.read())))


def export_problems(corpus, export_dir):
    problems = []
    for m in corpus.matrices:
        path = os.path.join(export_dir, str(m.year), gen_votes.TITLE[m.chamber] + ".csv")
        if not os.path.exists(path):
            problems.append("missing %s" % path)
            continue
        with open(path, "rb") as f:
            raw = f.read()
        if raw.count(b"\n") != raw.count(b"\r\n"):
            problems.append("%s: line ends are not CRLF" % path)
        rows = _read_csv(path)
        header, body = rows[0], rows[1:]
        districts = parties = None
        if body and body[0][0] == "District":
            districts, body = body[0], body[1:]
        if body and body[0][0] == "Party":
            parties, body = body[0], body[1:]
        if (districts is not None) != any(d is not None for d in m.districts):
            problems.append("%s: District row presence" % path)
        if (parties is not None) != any(p is not None for p in m.parties):
            problems.append("%s: Party row presence" % path)

        removed = {r for (y, c, r) in corpus.removals if (y, c) == (m.year, m.chamber)}
        added = {r for (y, c, r) in corpus.additions if (y, c) == (m.year, m.chamber)}
        want = {}
        for j, r in enumerate(m.roster):
            s = corpus.survivor(r)
            if s not in removed:
                want[corpus.display(s)] = j
        added_names = {corpus.display(r) for r in added}
        got = {name: k for k, name in enumerate(header[3:])}
        if len(got) != len(header) - 3:
            problems.append("%s: duplicate member names in header" % path)
        if set(got) != set(want) | added_names:
            problems.append("%s: roster differs (%d extra, %d missing)" % (
                path, len(set(got) - set(want) - added_names), len(set(want) - set(got))))
            continue
        if len(body) != len(m.rolls):
            problems.append("%s: %d rolls, generated %d" % (path, len(body), len(m.rolls)))
            continue
        for (name, number, stamp), row in zip(m.rolls, body):
            if row[:3] != [name, str(number), stamp]:
                problems.append("%s: roll %d reads %r" % (path, number, row[:3]))
                break
        letters = gen_votes.LETTERS
        bad = 0
        for name, j in want.items():
            k = 3 + got[name]
            col = [row[k] for row in body]
            if col != list(letters[m.cells[:, j]]):
                bad += 1
            if districts is not None and districts[k] != str(m.districts[j]):
                problems.append("%s: district of %s" % (path, name))
            if parties is not None and parties[k] != (m.parties[j] or ""):
                problems.append("%s: party of %s" % (path, name))
        for name in added_names:
            if any(row[3 + got[name]] for row in body):
                bad += 1
        if bad:
            problems.append("%s: %d member columns differ from the generated cells" % (path, bad))
    return problems


def check(corpus, ops, export_dir):
    """Failed operations by id with the reason, plus the per-layer quality
    metrics (outcomes over attempts, against the generator's truth)."""
    failed = {}
    quality = {"votes.match_rate": [], "votes.match_precision": [], "votes.merge_recall": []}
    last_export = max((o["id"] for o in ops if o["kind"] == "export" and o["ok"]), default=None)
    for o in ops:
        info = o["info"]
        if not o["ok"]:
            continue
        if o["kind"] == "melt" and info.get("cells") != corpus.cells:
            failed[o["id"]] = "melted %s cells, generated %d" % (info.get("cells"), corpus.cells)
        elif o["kind"] == "match":
            got = {tuple(x) for x in info["matches"]}
            right = got & corpus.truth_matches
            quality["votes.match_rate"].append(len(got) / info["names"])
            quality["votes.match_precision"].append(len(right) / max(1, len(got)))
            if got != corpus.truth_matches:
                failed[o["id"]] = "matches: %d wrong, %d missing" % (
                    len(got - corpus.truth_matches), len(corpus.truth_matches - got))
        elif o["kind"] == "find_duplicates":
            got = {(s, tuple(a)) for s, a in info["merges"]}
            quality["votes.merge_recall"].append(
                len(got & corpus.truth_merges) / len(corpus.truth_merges))
            if got != corpus.truth_merges:
                failed[o["id"]] = "merges: %d wrong, %d missing" % (
                    len(got - corpus.truth_merges), len(corpus.truth_merges - got))
        elif o["kind"] == "apply_edits":
            problems = []
            if info.get("service_rows") != expected_service_rows(corpus):
                problems.append("service rows %s after edits, expected %d" % (
                    info.get("service_rows"), expected_service_rows(corpus)))
            for name, want in gen_votes.renamed_votes(corpus).items():
                got = info.get("renamed", {}).get(name, 0)
                if got != want:
                    problems.append("%d votes renamed to %r, expected %d" % (got, name, want))
            if problems:
                failed[o["id"]] = "; ".join(problems)
        elif o["id"] == last_export:
            problems = export_problems(corpus, export_dir)
            if problems:
                failed[o["id"]] = "; ".join(problems[:5])
    means = {k: (sum(v) / len(v) if v else 0.0) for k, v in quality.items()}
    return failed, means
