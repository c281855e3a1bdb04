"""Seeded generator of a vote corpus in the published wide-CSV format.

Writes, under an output directory:
  vote_data/<year>/<House|Senate>.csv  one wide vote matrix per (year, chamber)
  members.csv, service.csv             the member roster the names link to
  edits.yaml                           curation edits in the reference's layout
and returns a `Corpus` holding the ground truth: which member every voter
name means, which member records are duplicates, what the edits do, and
every generated cell.

Format rules (FIXTURES.md section 2): header `Name,Number,Date,<names>`;
a District row only when some district is known, a Party row only when
some party is known; mid-year replacements give duplicate districts;
stamps are `YYYY-MM-DD HH:MM:SS` or date-only, and a day with any
date-only stamp lists its rolls in id order; blank cells; CRLF line ends
and minimal quoting. The formatter here is written independently of the
engine's CSV writer so a round trip through the engine is a real check.

Name variants (FIXTURES.md section 4): all-caps last names with inner
capitals (McRae -> MCRAE), nicknames, initials, `LAST, FIRST` comma forms
and hyphenated last names given by their second part only.
"""
import os
import random
from dataclasses import dataclass

import numpy as np

YEARS = list(range(2007, 2026))
HOUSE, SENATE = 1, 2
TITLE = {HOUSE: "House", SENATE: "Senate"}
SEATS = {HOUSE: 203, SENATE: 50}
MAX_REPLACEMENTS = {HOUSE: 2, SENATE: 1}
TOTAL_ROLLS = 27463
TOTAL_CELLS = 4348036
ROLL_RANGE = {HOUSE: (790, 1583), SENATE: (300, 516)}
# per-chamber roll totals that, with ~207 House and ~52 Senate columns,
# reproduce the published cell total
ROLL_TARGET = {HOUSE: 19250, SENATE: TOTAL_ROLLS - 19250}
# published letter shares: Y, N, E, X and blank (BASELINE.md)
LETTERS = np.array(["Y", "N", "E", "X", ""])
BLANK = 4  # index of the blank cell in LETTERS
LETTER_P = np.array([3660341, 538568, 98571, 6871, 43685], dtype=float)
LETTER_P /= LETTER_P.sum()
# mid-year replacements already blank about 0.6% of cells
DRAW_P = LETTER_P * np.array([1, 1, 1, 1, 0.4])
DRAW_P /= DRAW_P.sum()

FIRSTS = ["Thomas", "Michael", "Robert", "James", "Daniel", "David", "Christopher",
          "Timothy", "Anthony", "Edward", "Richard", "Gregory", "Jeffrey", "Joseph",
          "Frederick", "Matthew", "Patrick", "Samuel", "Stanley", "Bernard", "Gerald",
          "Lawrence", "Amanda", "Abigail", "Karen", "Lisa", "Maria", "Nancy", "Olivia",
          "Paula", "Rachel", "Susan", "Valerie", "Wendy", "Yvonne", "Zachary", "Brian",
          "Carrie", "Donald", "Helen", "Irene", "Kevin", "Ursula", "Victor", "Quentin"]
NICKNAMES = {"Thomas": "Tom", "Michael": "Mike", "Robert": "Bob", "James": "Jim",
             "Daniel": "Dan", "David": "Dave", "Christopher": "Chris", "Timothy": "Tim",
             "Anthony": "Tony", "Edward": "Ed", "Richard": "Rick", "Gregory": "Greg",
             "Jeffrey": "Jeff", "Joseph": "Joe", "Frederick": "Fred", "Matthew": "Matt",
             "Patrick": "Pat", "Samuel": "Sam", "Stanley": "Stan", "Bernard": "Bernie",
             "Gerald": "Jerry", "Lawrence": "Larry", "Amanda": "Mandy", "Abigail": "Abby"}
# surnames; a few with inner capitals exercise the decapitalization rule
SURNAMES = ["Smith", "Brown", "Miller", "Davis", "Wilson", "Moore", "Taylor", "Anderson",
            "Jackson", "White", "Harris", "Martin", "Thompson", "Garcia", "Clark", "Lewis",
            "Walker", "Hall", "Allen", "Young", "King", "Wright", "Scott", "Green", "Baker",
            "Adams", "Nelson", "Hill", "Campbell", "Mitchell", "Roberts", "Carter", "Phillips",
            "Evans", "Turner", "Torres", "Parker", "Collins", "Edwards", "Stewart", "Morris",
            "Murphy", "Cook", "Rogers", "Morgan", "Cooper", "Peterson", "Reed", "Bailey",
            "Kelly", "Howard", "Ward", "Cox", "Richardson", "Wood", "Watson", "Brooks",
            "Bennett", "Gray", "James", "Hughes", "Price", "Sanders", "Myers", "Long",
            "Ross", "Foster", "Harkins", "Merski", "Bizzarro", "Keller", "Gamma", "Delozier",
            "Kauffman", "Rapp", "Schemel", "Topper", "Warner", "Zimmerman", "Grove",
            "McRae", "McIlvaine", "DelRosso", "McNeill", "DeLuca", "MacKenzie"]
# hyphenated last names appear on roll calls by their second part only
HYPHENATED = ["Cepeda-Freytiz", "Santos-Quinonez", "Ortiz-Valdiviez", "Vega-Zapatero"]
MIDDLES = ["A.", "B.", "C.", "J.", "K.", "L.", "M.", "R.", "", "", "", ""]
PARTIES = ["Democrat", "Republican", "Republican", "Democrat", "Independent"]
ROLL_KINDS = ["FINAL PASSAGE", "CONCURRENCE", "AMENDMENT", "MOTION TO TABLE", "THIRD CONSIDERATION"]


@dataclass
class Member:
    id: int
    first: str
    middle: str
    last: str
    suffix: str
    dob: str
    archive: str  # column name of the archive id this record carries
    archive_id: int


@dataclass
class Matrix:
    year: int
    chamber: int
    rolls: list            # (name, number, stamp)
    roster: list           # member ids in column order
    names: list            # voter name per column
    districts: list        # int or None per column
    parties: list          # str or None per column
    cells: np.ndarray      # rolls x roster, index into LETTERS


@dataclass
class Corpus:
    matrices: list
    members: dict                          # id -> Member
    service: list                          # (member_id, year, chamber, district, party)
    truth_matches: set                     # (year, chamber, voter name, member id)
    truth_merges: set                      # (survivor, (absorbed, ...))
    removals: set                          # (year, chamber, member id)
    additions: set                         # (year, chamber, member id)
    renames: dict                          # member id -> new last name
    cells: int = 0
    rolls: int = 0

    def survivor(self, member_id):
        for s, absorbed in self.truth_merges:
            if member_id in absorbed:
                return s
        return member_id

    def display(self, member_id):
        """Export header name of a (surviving) member: its record name,
        with any rename edit applied."""
        m = self.members[member_id]
        last = self.renames.get(member_id, m.last)
        return " ".join(p for p in (m.first, m.middle, last, m.suffix) if p)


def sample_files(corpus, seed, house_rolls=300, senate_rolls=150, per_chamber=2):
    """The corpus cut to `per_chamber` seeded files of each chamber, each
    truncated to its first `house_rolls` or `senate_rolls` rolls, so every
    seed does about the same amount of work. A cut falls between days (a
    partial day could break the order-by-id rule), so a file may lose a few
    more rolls. Members, service, merges and edits stay whole."""
    rng = random.Random(seed)
    chosen = []
    for chamber, n in ((HOUSE, house_rolls), (SENATE, senate_rolls)):
        files = [m for m in corpus.matrices if m.chamber == chamber]
        for m in rng.sample(files, per_chamber):
            cut = n
            while cut > 0 and m.rolls[cut - 1][2][:10] == m.rolls[cut][2][:10]:
                cut -= 1
            chosen.append(Matrix(m.year, m.chamber, m.rolls[:cut], m.roster, m.names,
                                 m.districts, m.parties, m.cells[:cut]))
    chosen.sort(key=lambda m: (m.year, m.chamber))
    keys = {(m.year, m.chamber) for m in chosen}
    cut = Corpus(chosen, corpus.members, corpus.service,
                 {t for t in corpus.truth_matches if (t[0], t[1]) in keys},
                 corpus.truth_merges, corpus.removals, corpus.additions, corpus.renames)
    cut.rolls = sum(len(m.rolls) for m in chosen)
    cut.cells = sum(m.cells.size for m in chosen)
    return cut


def csv_field(v):
    if any(c in v for c in ',"\r\n'):
        return '"' + v.replace('"', '""') + '"'
    return v


def csv_line(fields):
    return ",".join(csv_field(f) for f in fields) + "\r\n"


class _People:
    """Member records, one per person as generated; `_finish` later gives
    some persons a second (duplicate) record."""

    def __init__(self, rng):
        self.rng = rng
        self.members = {}
        self.next_id = 1
        self.used_names = set()
        self.used_dobs = set()

    def _dob(self):
        while True:
            d = "19%02d-%02d-%02d" % (self.rng.randint(35, 85), self.rng.randint(1, 12),
                                      self.rng.randint(1, 28))
            if d not in self.used_dobs:
                self.used_dobs.add(d)
                return d

    def new_person(self, taken_initials):
        """A new member whose (first, last) is unused and whose first
        initial differs from every member of the file sharing its last
        name, so no spelling can match two people of one block."""
        rng = self.rng
        while True:
            if rng.random() < 0.03:
                last = rng.choice(HYPHENATED)
            else:
                last = rng.choice(SURNAMES[:30]) if rng.random() < 0.35 else rng.choice(SURNAMES)
            first = rng.choice(FIRSTS)
            if (first, last) in self.used_names or first[0] in taken_initials(last):
                continue
            self.used_names.add((first, last))
            break
        suffix = "Jr." if rng.random() < 0.04 else ""
        return self.record(first, rng.choice(MIDDLES), last, suffix, self._dob(),
                           "house_archive_id")

    def record(self, first, middle, last, suffix, dob, archive):
        rid = self.next_id
        self.next_id += 1
        self.members[rid] = Member(rid, first, middle, last, suffix, dob, archive,
                                   100000 + rid)
        return rid


def _voter_name(rng, m, block):
    """The roll-call spelling of member `m`; `block` holds the file's
    members sharing its last name (case-insensitively), `m` included."""
    last_up = m.last.upper()
    if len(block) == 1:
        if "-" in m.last:
            return m.last.split("-")[1].upper()   # resolved by the substring pass
        r = rng.random()
        if r < 0.6:
            return last_up
        if r < 0.8:
            return "%s, %s" % (last_up, m.first.upper())
        return "%s %s" % (m.first.upper(), last_up)
    r = rng.random()
    if r < 0.3 and m.first in NICKNAMES:
        return "%s %s" % (NICKNAMES[m.first].upper(), last_up)
    if r < 0.5 and sum(o.first[0] == m.first[0] for o in block) == 1:
        return "%s. %s" % (m.first[0], last_up)
    return "%s %s" % (m.first.upper(), last_up)


def _name_columns(rng, members, roster):
    blocks = {}
    for r in roster:
        blocks.setdefault(members[r].last.lower(), []).append(members[r])
    return [_voter_name(rng, members[r], blocks[members[r].last.lower()]) for r in roster]


def _roll_counts(rng):
    """Rolls per file, House 790-1583 and Senate 300-516, with chamber
    totals that give the published roll and cell totals."""
    counts = {}
    for chamber, (lo, hi) in ROLL_RANGE.items():
        keys = [(y, chamber) for y in YEARS]
        for k in keys:
            counts[k] = rng.randint(lo, hi)
        excess = sum(counts[k] for k in keys) - ROLL_TARGET[chamber]
        i = 0
        while excess != 0:
            k = keys[i % len(keys)]
            new = min(max(counts[k] - max(min(excess, 25), -25), lo), hi)
            excess += new - counts[k]
            counts[k] = new
            i += 1
    return counts


def _stamps(rng, year, n):
    """n roll stamps over the year in file order. About one day in ten has
    a roll without a time; such a day keeps id order, all other days are
    in stamp order."""
    n_days = min(350, max(1, n // 8))
    days = sorted(rng.sample(range(5, 360), n_days))
    per_day = [n // n_days + (1 if i < n % n_days else 0) for i in range(n_days)]
    out = []
    for day, k in zip(days, per_day):
        date = np.datetime64("%d-01-01" % year) + np.timedelta64(day, "D")
        secs = sorted(rng.sample(range(9 * 3600, 20 * 3600), k))
        stamps = ["%s %02d:%02d:%02d" % (date, s // 3600, s % 3600 // 60, s % 60) for s in secs]
        if rng.random() < 0.1:
            rng.shuffle(stamps)
            for j in rng.sample(range(k), max(1, k // 3)):
                stamps[j] = str(date)
        out.extend(stamps)
    return out


def _roll_name(rng):
    bill = "%s %d" % (rng.choice(["HB", "SB", "HR", "SR"]), rng.randint(1, 2999))
    kind = rng.choice(ROLL_KINDS)
    if rng.random() < 0.15:
        return '%s, "A%05d" %s' % (bill, rng.randint(0, 99999), kind)
    return "%s %s" % (bill, kind)


def generate(seed):
    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    people = _People(rng)
    counts = _roll_counts(rng)
    members = people.members

    holders = {}   # (chamber, district) -> member id
    service = []
    matrices = []
    for chamber in (HOUSE, SENATE):
        for year in YEARS:
            in_file = []

            def taken(last):
                return {members[r].first[0] for r in in_file + list(holders.values())
                        if members[r].last.lower() == last.lower()}
            # turnover between sessions, then a few mid-year replacements,
            # which give a district two columns
            for dist in range(1, SEATS[chamber] + 1):
                if (chamber, dist) not in holders or rng.random() < 0.06:
                    holders[(chamber, dist)] = people.new_person(taken)
            in_file = [holders[(chamber, d)] for d in range(1, SEATS[chamber] + 1)]
            columns = [(d, holders[(chamber, d)], None) for d in range(1, SEATS[chamber] + 1)]
            n_rolls = counts[(year, chamber)]
            for dist in rng.sample(range(1, SEATS[chamber] + 1),
                                   rng.randint(0, MAX_REPLACEMENTS[chamber])):
                newcomer = people.new_person(taken)
                in_file.append(newcomer)
                cut = rng.randint(n_rolls // 5, 4 * n_rolls // 5)
                i = next(i for i, c in enumerate(columns) if c[0] == dist)
                columns[i] = (dist, columns[i][1], (cut, n_rolls))
                columns.append((dist, newcomer, (0, cut)))
                holders[(chamber, dist)] = newcomer
            has_district = year > 2007
            has_party = year > 2008
            # export order: district (unknown first), then member id
            columns.sort(key=lambda c: ((c[0] if has_district else -1), c[1]))
            roster = [r for _, r, _ in columns]
            parties = [PARTIES[(r * 7 + seed) % len(PARTIES)] if has_party else None
                       for r in roster]
            cells = nprng.choice(len(LETTERS), size=(n_rolls, len(roster)),
                                 p=DRAW_P).astype(np.int8)
            for j, (_, _, blank) in enumerate(columns):
                if blank:
                    cells[blank[0]:blank[1], j] = BLANK
            stamps = _stamps(rng, year, n_rolls)
            rolls = [(_roll_name(rng), k + 1, stamps[k]) for k in range(n_rolls)]
            districts = [d if has_district else None for d, _, _ in columns]
            matrices.append(Matrix(year, chamber, rolls, roster, [], districts, parties, cells))
            service.extend((r, year, chamber, d, p) for r, d, p in zip(roster, districts, parties))
    return _finish(rng, people, matrices, service)


def _finish(rng, people, matrices, service):
    """Give 20 long-serving members a duplicate record used from the middle
    of their service on (same dob, nickname or same first name, no middle
    or suffix, the other archive id), then spell every column."""
    members = people.members
    years_of = {}
    for m in matrices:
        for r in m.roster:
            years_of.setdefault(r, set()).add((m.year, m.chamber))
    candidates = sorted(r for r, ys in years_of.items()
                        if len({y for y, _ in ys}) >= 4 and len({c for _, c in ys}) == 1)
    switch = {}
    for r in rng.sample(candidates, min(20, len(candidates))):
        a = members[r]
        yrs = sorted({y for y, _ in years_of[r]})
        b = people.record(NICKNAMES.get(a.first, a.first), "", a.last, "", a.dob,
                          "house_current_id")
        switch[r] = (yrs[len(yrs) // 2], b)
    truth_merges = {(r, (b,)) for r, (_, b) in switch.items()}

    def current(r, year):
        return switch[r][1] if r in switch and year >= switch[r][0] else r
    service = [(current(r, y), y, c, d, p) for (r, y, c, d, p) in service]
    for m in matrices:
        m.roster = [current(r, m.year) for r in m.roster]
        m.names = _name_columns(rng, members, m.roster)

    truth_matches = {(m.year, m.chamber, n, r) for m in matrices for n, r in zip(m.names, m.roster)}
    corpus = Corpus(matrices, members, service, truth_matches, truth_merges, set(), set(), {})
    _plan_edits(rng, corpus)
    corpus.rolls = sum(len(m.rolls) for m in matrices)
    corpus.cells = sum(m.cells.size for m in matrices)
    return corpus


def _plan_edits(rng, corpus):
    """Three service removals and two additions whose target is unambiguous
    (ApplyEdits acts only on exactly one match), plus two voter renames and
    one member rename."""
    svc = {}
    for (r, y, c, d, p) in corpus.service:
        s = corpus.survivor(r)
        svc.setdefault((y, c), set()).add(s)
    last = {r: m.last for r, m in corpus.members.items()}

    def unique_last(y, c, r):
        return sum(1 for o in svc.get((y, c), ()) if last[o] == last[r]) == 1

    keys = sorted(svc)
    removals = set()
    while len(removals) < 3:
        y, c = rng.choice(keys)
        r = rng.choice(sorted(svc[(y, c)]))
        if unique_last(y, c, r) and all(rm[2] != r for rm in removals):
            removals.add((y, c, r))
    additions = set()
    tries = 0
    while len(additions) < 2 and tries < 10000:
        tries += 1
        y, c = rng.choice(keys)
        if y == 2007 or (y - 1, c) not in svc:
            continue
        r = rng.choice(sorted(svc[(y - 1, c)]))
        same_last = lambda yy: [o for o in svc.get((yy, c), ()) if last[o] == last[r]]
        if (r not in svc[(y, c)] and same_last(y) == [] and same_last(y - 1) == [r]
                and same_last(y + 1) == [] and all(a[2] != r for a in additions)
                and all(rm[2] != r for rm in removals) and (y, c, r) not in removals):
            additions.add((y, c, r))
    corpus.removals = removals
    corpus.additions = additions
    renamed = rng.choice(sorted({corpus.survivor(r) for r in corpus.members}))
    corpus.renames = {renamed: corpus.members[renamed].last + "-Smythe"}


def vote_renames(corpus):
    """The edits' voter renames, (before, after, window or None): the first
    voter name of the first file renamed everywhere, the second renamed
    only from March 1 to June 30 of that file's year."""
    m0 = corpus.matrices[0]
    return [(m0.names[0], m0.names[0] + " X", None),
            (m0.names[1], m0.names[1] + " Y", ("%d-03-01" % m0.year, "%d-06-30" % m0.year))]


def renamed_votes(corpus):
    """Vote rows that carry each rename's new name: every non-blank cell of
    a column with the old name, and for a ranged rename only on rolls
    whose stamp has a time strictly inside the window (a date-only stamp
    has no time to compare, so it keeps the old name)."""
    out = {}
    for before, after, window in vote_renames(corpus):
        n = 0
        for m in corpus.matrices:
            rows = np.ones(len(m.rolls), dtype=bool)
            if window is not None:
                lo, hi = window[0] + " 00:00:00", window[1] + " 00:00:00"
                rows = np.array([len(s) > 10 and lo < s < hi for _, _, s in m.rolls], dtype=bool)
            for j, name in enumerate(m.names):
                if name == before:
                    n += int(np.count_nonzero(m.cells[rows, j] != BLANK))
        out[after] = n
    return out


def write(corpus, out):
    """Write the corpus files under `out`."""
    for m in corpus.matrices:
        d = os.path.join(out, "vote_data", str(m.year))
        os.makedirs(d, exist_ok=True)
        parts = [csv_line(["Name", "Number", "Date"] + m.names)]
        if any(x is not None for x in m.districts):
            parts.append(csv_line(["District", "", ""] + ["" if x is None else str(x) for x in m.districts]))
        if any(x is not None for x in m.parties):
            parts.append(csv_line(["Party", "", ""] + ["" if x is None else x for x in m.parties]))
        letters = LETTERS[m.cells]
        for (name, number, stamp), row in zip(m.rolls, letters):
            parts.append(csv_field(name) + "," + str(number) + "," + stamp + "," + ",".join(row) + "\r\n")
        with open(os.path.join(d, TITLE[m.chamber] + ".csv"), "w", newline="", encoding="utf-8") as f:
            f.write("".join(parts))

    with open(os.path.join(out, "members.csv"), "w", encoding="utf-8") as f:
        f.write("id,house_archive_id,house_current_id,senate_archive_id,senate_current_id,"
                "first,middle,last,suffix,dob\n")
        for r in sorted(corpus.members):
            m = corpus.members[r]
            ids = {"house_archive_id": "", "house_current_id": "", "senate_archive_id": "",
                   "senate_current_id": ""}
            ids[m.archive] = str(m.archive_id)
            f.write(",".join([str(r), ids["house_archive_id"], ids["house_current_id"],
                              ids["senate_archive_id"], ids["senate_current_id"],
                              m.first, m.middle, m.last, m.suffix, m.dob]) + "\n")
    with open(os.path.join(out, "service.csv"), "w", encoding="utf-8") as f:
        f.write("member_id,year,chamber,district,party\n")
        for (r, y, c, d, p) in corpus.service:
            f.write("%d,%d,%d,%s,%s\n" % (r, y, c, "" if d is None else d, p or ""))

    letter = {HOUSE: "H", SENATE: "S"}
    lines = []
    by_year = {}
    for (y, c, r) in sorted(corpus.removals):
        by_year.setdefault(y, {}).setdefault(c, []).append("%s: null" % corpus.members[r].last)
    for (y, c, r) in sorted(corpus.additions):
        by_year.setdefault(y, {}).setdefault(c, []).append("%s: true" % corpus.members[r].last)
    for y in sorted(by_year):
        lines.append("%d:" % y)
        for c in sorted(by_year[y]):
            lines.append("  %s:" % letter[c])
            lines.extend("    " + e for e in by_year[y][c])
    lines.append("Votes:")
    for before, after, window in vote_renames(corpus):
        if window is None:
            lines.append('  "%s": "%s"' % (before, after))
        else:
            lines += ['  "%s":' % before, '    name: "%s"' % after,
                      "    start: %s" % window[0], "    stop: %s" % window[1]]
    lines.append("Rename:")
    for r, new_last in sorted(corpus.renames.items()):
        lines += ["  - from:", "      id: %d" % r, "    to:", '      last: "%s"' % new_last]
    with open(os.path.join(out, "edits.yaml"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def scale_problems(corpus):
    """Differences between the corpus and the published scale figures."""
    problems = []
    if len(corpus.matrices) != 38:
        problems.append("files %d != 38" % len(corpus.matrices))
    if corpus.rolls != TOTAL_ROLLS:
        problems.append("rolls %d != %d" % (corpus.rolls, TOTAL_ROLLS))
    if abs(corpus.cells - TOTAL_CELLS) > 0.02 * TOTAL_CELLS:
        problems.append("cells %d not within 2%% of %d" % (corpus.cells, TOTAL_CELLS))
    for m in corpus.matrices:
        cols = 3 + len(m.roster)
        lo, hi = (206, 211) if m.chamber == HOUSE else (53, 55)
        if not lo <= cols <= hi:
            problems.append("%d %s has %d columns" % (m.year, TITLE[m.chamber], cols))
    counts = np.bincount(np.concatenate([m.cells.ravel() for m in corpus.matrices]),
                         minlength=len(LETTERS)) / corpus.cells
    for letter, got, want in zip(LETTERS, counts, LETTER_P):
        if abs(got - want) > 0.01:
            problems.append("letter %r share %.4f vs published %.4f" % (letter, got, want))
    return problems
