"""Seeded NeoDash-style dashboard sessions, as typed query calls.

A session opens on the home page and a few autocomplete keystrokes, runs
a search, opens entry pages (graph view, the parity viewer in both
cognate modes, molstar viewer), the similarity page with a slider move
and a mode change, the interactions page with domain-type changes, and
then either the promiscuity/compare pages or the EC page. Parameters
come from each control's full domain: cutoffs 0.00-1.00 in 0.01 steps,
entry keys 1..n_entries, domain pairs, EC (nation) keys and search
strings. Entry keys bound a page of entries (`ok <= key`), so a call's
result grows with its key, up to most of the registry.

Sessions come in blocks of BLOCK, and a run measures whole blocks, so
every run sees the same mix: one session on each half of the entry-key
domain, the search page once in each cognate mode, the promiscuity/
compare pages and the EC page once each. The two entry keys are mirror
images (k and n_entries + 1 - k), so the rows a block's entry pages
return add up to about the same for every draw. Which session gets which
half, and every value, is drawn from the seed.
Spark inlines numeric literals into generated code, so how often values
repeat decides how often it compiles new classes; the stats below record
that per run instead of assuming it.

A tour of registered default points (the parameters of oracle-checked
dashboard queries), one per method, runs before the measured window, so
every call type has oracle coverage and the query paths are warm; the
sessions repeat one default point per block, and such repeats must
return the tour's rows.

One call per line: block, kind, method, arguments, tab-separated.
"""
import random
from collections import Counter

KINDS = ("home", "autocomplete", "search", "entry", "similarity",
         "interactions", "promiscuity", "ec")

# (kind, method, args) of the registered dashboard queries
DEFAULT_POINTS = [
    ("home", "summaryStats", ()),
    ("autocomplete", "autocomplete", ("1", "5")),
    ("search", "searchEntries", ("42", "0.9", "Best")),
    ("search", "searchEntries", ("42", "0.95", "Any")),
    ("entry", "entryGraphView", ("20", "0.9")),
    ("entry", "parityViewerPayload", ("20", "0.9", "Best")),
    ("entry", "molstarViewerPayload", ("20",)),
    ("similarity", "ligandSimilarity", ("20", "0.9", "Best")),
    ("similarity", "ligandSimilarity", ("20", "0.97", "Any")),
    ("similarity", "ligandSimilarity", ("20", "0.95", "Best")),
    ("interactions", "domainInteractions", ("20", "-")),
    ("interactions", "domainInteractions", ("20", "CATH")),
    ("interactions", "domainInteractions", ("20", "SCOP")),
    ("interactions", "domainInteractions", ("20", "Pfam")),
    ("promiscuity", "superfamilyPromiscuity", ("0.95", "Best")),
    ("promiscuity", "superfamilyPromiscuity", ("0.95", "Any")),
    ("promiscuity", "compareDomains", ("1", "2", "0.9", "Best")),
    ("promiscuity", "compareDomains", ("1", "3", "0.9", "Best")),
    ("ec", "ecPage", ("3", "0.9")),
    ("ec", "ecPage", ("3", "0.95")),
]

# one default point per method: the pre-window tour
TOUR = [next(d for d in DEFAULT_POINTS if d[1] == m) for m in dict.fromkeys(
    d[1] for d in DEFAULT_POINTS)]

# which argument positions of a method are which control
LITERALS = {
    "autocomplete": ("text", None),
    "searchEntries": ("text", "cutoff", "mode"),
    "entryGraphView": ("entry", "cutoff"),
    "parityViewerPayload": ("entry", "cutoff", "mode"),
    "molstarViewerPayload": ("entry",),
    "ligandSimilarity": ("entry", "cutoff", "mode"),
    "domainInteractions": ("entry", "dtype"),
    "superfamilyPromiscuity": ("cutoff", "mode"),
    "compareDomains": ("domain", "domain", "cutoff", "mode"),
    "ecPage": ("ec", "cutoff"),
}


# sessions per block. A run measures whole blocks, and every block holds
# the same mix: one session on each half of the entry keys, the search
# page once in each cognate mode, the promiscuity/compare pages in the
# first session and the EC page in the second.
BLOCK = 2


class Controls:
    """Draws each dashboard control's value from its domain."""

    def __init__(self, rng, n_entries, n_domains):
        self.rng, self.n_entries, self.n_domains = rng, n_entries, n_domains

    def cutoff(self):
        return f"{self.rng.randint(0, 100) / 100:g}"

    def mode(self):
        return self.rng.choice(("Best", "Any"))

    def entries(self):
        """Two entry keys, one from each half of 1..n_entries, in random
        order. Each is uniform over its half, and the upper one mirrors
        the lower (antithetic draws: k and n_entries + 1 - k)."""
        low = self.rng.randint(1, self.n_entries // 2)
        keys = [str(low), str(self.n_entries + 1 - low)]
        self.rng.shuffle(keys)
        return keys

    def domain(self):
        return str(self.rng.randrange(self.n_domains))

    def dtype(self):
        return self.rng.choice(("-", "CATH", "SCOP", "Pfam"))

    def digits(self, n):
        return "".join(self.rng.choice("0123456789") for _ in range(n))


def session(c, rng, index, key, search_mode):
    """Session number `index` of its block, on the entry page `key`, as
    (kind, method, args) calls. The parity viewer and similarity pages
    are each seen in both cognate modes, in random order: "Any" returns
    several times the rows of "Best"."""
    calls = [("home", "summaryStats", ())]
    typed = c.digits(3)
    for i in range(1, len(typed) + 1):
        calls.append(("autocomplete", "autocomplete", (typed[:i], "5")))
    calls.append(("search", "searchEntries",
                  (c.digits(rng.randint(1, 3)), c.cutoff(), search_mode)))
    calls.append(("entry", "entryGraphView", (key, c.cutoff())))
    for mode in rng.sample(("Best", "Any"), 2):  # mode selector
        calls.append(("entry", "parityViewerPayload", (key, c.cutoff(), mode)))
    calls.append(("entry", "molstarViewerPayload", (key,)))
    for mode in rng.sample(("Best", "Any"), 2):  # slider and mode selector
        calls.append(("similarity", "ligandSimilarity", (key, c.cutoff(), mode)))
    for _ in range(2):  # domain-type selector
        calls.append(("interactions", "domainInteractions", (key, c.dtype())))
    if index % 2 == 0:
        calls += [("promiscuity", "superfamilyPromiscuity", (c.cutoff(), c.mode())),
                  ("promiscuity", "compareDomains",
                   (c.domain(), c.domain(), c.cutoff(), c.mode()))]
    else:
        calls.append(("ec", "ecPage", (str(rng.randrange(25)), c.cutoff())))
    return calls


def generate(seed, n_entries, n_domains, n_blocks, defaults=1):
    """`n_blocks` blocks of BLOCK consecutive sessions, each block a list
    of calls. In each block, `defaults` calls other than the home page
    (which has no parameters) are replaced by a registered default point
    of their method, so a run repeats some tour calls exactly."""
    rng = random.Random(seed)
    c = Controls(rng, n_entries, n_domains)
    blocks = []
    for _ in range(n_blocks):
        keys = c.entries()
        search_modes = rng.sample(("Best", "Any"), 2)
        calls = [x for i in range(BLOCK)
                 for x in session(c, rng, i, keys[i], search_modes[i])]
        params = [i for i, x in enumerate(calls) if x[2]]
        for i in rng.sample(params, defaults):
            calls[i] = rng.choice([d for d in DEFAULT_POINTS if d[1] == calls[i][1]])
        blocks.append(calls)
    return blocks


def write(path, blocks):
    """One call per line: block number, kind, method, arguments."""
    with open(path, "w") as f:
        for b, calls in enumerate(blocks):
            for kind, method, args in calls:
                f.write("\t".join((str(b), kind, method) + tuple(args)) + "\n")


def traffic_stats(calls):
    """Share of each call kind and distinct literal values per control."""
    kinds = Counter(k for k, _, _ in calls)
    values = {}
    for _, method, args in calls:
        for role, v in zip(LITERALS.get(method, ()), args):
            if role is not None:
                values.setdefault(role, set()).add(v)
    total = max(1, len(calls))
    return {"share": {k: kinds.get(k, 0) / total for k in KINDS},
            "distinct_literals": {r: len(v) for r, v in sorted(values.items())},
            "distinct_calls": len({(m, a) for _, m, a in calls})}
