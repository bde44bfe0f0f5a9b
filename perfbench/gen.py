"""Seeded input generators for the perfbench workloads.

Everything here is a pure function of its seed: the same seed writes the
same bytes. The program under test only ever sees the files written here;
the planted facts (expected fact rows, report aggregates, duplicate
clusters) go to side files that only the harness's checks read.
"""

import hashlib
import random

# ── raw VideoStart CSV ───────────────────────────────────────────────────────

# (title head, platform, site) under the reference's classifier rules:
# platform = first '|'-piece containing Android/iPhone/iPad, else Desktop;
# site = NULL when a space-separated token of that piece is a platform word
# or "Web", else the piece itself (NULL sites land as the "(none)" member).
HEADS = [
    ("App Web", "Desktop", None),
    ("news", "Desktop", "news"),
    ("9news", "Desktop", "9news"),
    ("iPhone", "iPhone", None),
    ("Android App", "Android", None),
    ("iPad App", "iPad", None),
    ("sport", "Desktop", "sport"),
    ("Today Show", "Desktop", "Today Show"),
]
HEAD_WEIGHTS = [20, 25, 10, 15, 12, 6, 8, 4]
SECTIONS = ["Clips", "News", "Live", "a-current-affair;2016", "today;2017"]
NOISE_CODES = ["157", "120", "160", "104", "162", "161", "163", "164", "165",
               "166", "171", "229", "127", "170", "237", "101"]
ADJ = ["Shark", "Chilean", "Sydney", "Aussie", "Global", "Local", "Night",
       "Morning", "Winter", "Summer", "Coastal", "Urban", "Rural", "Rapid"]
NOUN = ["attack", "navy", "surfer", "station", "storm", "market", "rescue",
        "parade", "election", "match", "festival", "report", "crash", "bridge"]
NONE_SITE = "(none)"

# Share of raw rows that are well-formed VideoStarts (fact rows); the rest
# are other event codes plus the FIXTURES edge rows below.
VIDEOSTART_SHARE = 0.376
SINGLE_PIECE_SHARE = 0.01  # VideoStart with a one-piece title: dropped
BAD_TS_SHARE = 0.01        # VideoStart with an unparseable timestamp: dropped
DECOY_SHARE = 0.05         # "1206" without "206": not a VideoStart
DAYS = 3                   # events spread over 2017-01-11 .. 2017-01-13
GARBAGE_TS = ["2017-13-45T99:00:00.000Z", "not-a-date", "2017-01-11 00:00",
              "11/01/2017"]
ZIPF_S = 1.1


def title_of(t):
    """The title proper (last '|'-piece) of title id `t`; every 7th is UTF-8."""
    if t % 7 == 3:
        return "Café résumé 日本 %d" % t
    return "%s %s %d" % (ADJ[t % len(ADJ)], NOUN[(t // len(ADJ)) % len(NOUN)], t)


def zipf_weights(n, s=ZIPF_S):
    return [1.0 / (r ** s) for r in range(1, n + 1)]


def _ts(minute, rng):
    day, rem = divmod(minute, 1440)
    return "2017-01-%02dT%02d:%02d:%02d.%03dZ" % (
        11 + day, rem // 60, rem % 60, rng.randrange(60), rng.randrange(1000))


def _codes(rng, with_start):
    codes = rng.sample(NOISE_CODES, rng.randint(2, 9))
    if with_start:
        codes.insert(rng.randrange(len(codes) + 1), "206")
    return ",".join(codes)


def videostart_batch(seed, n_rows, n_titles):
    """One raw CSV batch. Returns (csv_text, facts) where facts lists one
    (minute_key, platform, site, title) tuple per row the pipeline must keep."""
    rng = random.Random(seed)
    cum = []
    acc = 0.0
    for w in zipf_weights(n_titles):
        acc += w
        cum.append(acc)
    heads = rng.choices(range(len(HEADS)), weights=HEAD_WEIGHTS, k=n_rows)
    titles = rng.choices(range(n_titles), cum_weights=cum, k=n_rows)
    lines = ["DateTime, VideoTitle, events"]
    facts = []
    p_valid = VIDEOSTART_SHARE
    p_single = p_valid + SINGLE_PIECE_SHARE
    p_badts = p_single + BAD_TS_SHARE
    p_decoy = p_badts + DECOY_SHARE
    for i in range(n_rows):
        head, platform, site = HEADS[heads[i]]
        tail = title_of(titles[i])
        minute = rng.randrange(DAYS * 1440)
        if rng.random() < 0.2:  # two-piece form: "news| Title" keeps the space
            vt = head + "| " + tail
            title = " " + tail
        else:
            vt = head + "|" + rng.choice(SECTIONS) + "|" + tail
            title = tail
        u = rng.random()
        ts = _ts(minute, rng)
        if u < p_valid:
            ev = _codes(rng, True)
            key = ts[0:4] + ts[5:7] + ts[8:10] + ts[11:13] + ts[14:16]
            facts.append((key, platform, site or NONE_SITE, title))
        elif u < p_single:
            vt, ev = "JustOnePiece%d" % titles[i], _codes(rng, True)
        elif u < p_badts:
            ts, ev = rng.choice(GARBAGE_TS), _codes(rng, True)
        elif u < p_decoy:
            ev = "1206," + _codes(rng, False)
        else:
            ev = _codes(rng, False)
        sep = ", " if rng.random() < 0.5 else ","
        lines.append('%s,%s%s"%s"' % (ts, vt, sep, ev))
    return "\n".join(lines) + "\n", facts


REPORT_DAY = "20170112"
REPORT_PLATFORM = "iPhone"
REPORT_TOPN = 20


def report_lines(facts):
    """Expected result lines of the four report queries over `facts`, in the
    canonical form the harness prints rows in (tab-joined columns; the two
    unordered group-bys sorted, the two ordered queries in query order)."""
    by_hour, by_site, by_title, by_minute = {}, {}, {}, {}
    for key, platform, site, title in facts:
        k = (key[:10], platform)
        by_hour[k] = by_hour.get(k, 0) + 1
        if key[:8] == REPORT_DAY:
            by_site[site] = by_site.get(site, 0) + 1
        by_title[title] = by_title.get(title, 0) + 1
        if platform == REPORT_PLATFORM:
            by_minute[key] = by_minute.get(key, 0) + 1
    top = sorted(by_title.items(), key=lambda kv: (-kv[1], kv[0].encode("utf-8")))
    return {
        "hour_platform": sorted("%s\t%s\t%d" % (h, p, n)
                                for (h, p), n in by_hour.items()),
        "site_day": sorted("%s\t%d" % (s, n) for s, n in by_site.items()),
        "top_titles": ["%s\t%d" % (t, n) for t, n in top[:REPORT_TOPN]],
        "minute_series": ["%s\t%d" % (m, by_minute[m]) for m in sorted(by_minute)],
    }


def digest(lines):
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


# ── document corpus ──────────────────────────────────────────────────────────

STOPWORDS = ["data", "table", "row", "value"]
_SYL = ["ka", "lo", "mi", "ne", "su", "ra", "to", "vi", "ze", "po", "qu",
        "di", "fa", "ge", "hu", "jo", "be", "ci"]
VOCAB = sorted({a + b + c for a in _SYL for b in _SYL for c in _SYL})[:4000]
DOC_WORDS = 60


def _words(rng, n):
    return rng.choices(VOCAB, k=n)


def _mutate(rng, words, k, avoid=()):
    """Replace k words at distinct, spread-out positions (not in `avoid`)."""
    out = list(words)
    free = [i for i in range(len(out)) if i not in avoid]
    pos = sorted(rng.sample(free, k))
    for i in pos:
        out[i] = rng.choice(VOCAB)
    return out, set(pos)


def corpus(seed, n_docs, exact_share=0.05, cluster_share=0.08,
           lowq_share=0.04, subst=3):
    """A document corpus with planted structure. Returns (docs, planted):
    docs is a list of (doc_id, text) with ids shuffled over the corpus;
    planted has `exact` (ids that must be removed: every copy but the
    min-id one of each exact group), `clusters` (lists of ids of planted
    near-duplicate clusters, chains included) and `lowq` (ids the quality
    gate must remove)."""
    rng = random.Random(seed)
    texts = []  # (kind, group, words)
    n_exact_groups = int(n_docs * exact_share / 2)
    n_clusters = int(n_docs * cluster_share / 3)
    n_lowq = int(n_docs * lowq_share)
    for g in range(n_exact_groups):
        w = _words(rng, DOC_WORDS)
        texts.append(("exact", g, w))
        # the copies differ only in case: exact dedup normalizes lower(text)
        texts.append(("exact", g, [x.upper() if j == 0 else x
                                   for j, x in enumerate(w)]))
    for c in range(n_clusters):
        w = _words(rng, DOC_WORDS)
        texts.append(("near", c, w))
        if c % 3 == 0:  # a chain: each link edits fresh positions of the last
            used = set()
            for _ in range(rng.randint(3, 4)):
                w, pos = _mutate(rng, w, subst, used)
                used |= pos
                texts.append(("near", c, w))
        else:           # a star: variants of the original
            base = w
            for _ in range(rng.randint(1, 2)):
                v, _pos = _mutate(rng, base, subst)
                texts.append(("near", c, v))
    for q in range(n_lowq):
        if q % 2 == 0:
            w = _words(rng, rng.randint(8, 20))  # too short
        else:
            w = _words(rng, DOC_WORDS)
            for j in rng.sample(range(DOC_WORDS), 24):  # 40% stopwords
                w[j] = rng.choice(STOPWORDS)
        texts.append(("lowq", q, w))
    while len(texts) < n_docs:
        texts.append(("plain", len(texts), _words(rng, DOC_WORDS)))
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    docs, exact_groups, clusters, lowq = [], {}, {}, []
    for (kind, g, w), i in zip(texts, ids):
        docs.append((i, " ".join(w)))
        if kind == "exact":
            exact_groups.setdefault(g, []).append(i)
        elif kind == "near":
            clusters.setdefault(g, []).append(i)
        elif kind == "lowq":
            lowq.append(i)
    docs.sort()
    exact = sorted(i for grp in exact_groups.values() for i in grp if i != min(grp))
    return docs, {"exact": exact,
                  "clusters": [sorted(c) for _, c in sorted(clusters.items())],
                  "lowq": sorted(lowq)}


def served_batches(seed, n_store, n_batches, batch_docs, near_share=0.1,
                   subst=3):
    """The initial served-store corpus plus admit batches. Ids are monotone
    with arrival (the banded-append contract). Returns (store_docs,
    batches, planted) where planted[k] lists (batch_doc_id, store_doc_id)
    near-duplicate pairs planted in batch k."""
    rng = random.Random(seed)
    store = [(i, " ".join(_words(rng, DOC_WORDS))) for i in range(1, n_store + 1)]
    batches, planted = [], []
    next_id = n_store + 1
    for _ in range(n_batches):
        docs, pairs = [], []
        for _ in range(batch_docs):
            if rng.random() < near_share:
                src_id, src = store[rng.randrange(n_store)]
                w, _pos = _mutate(rng, src.split(" "), subst)
                pairs.append((next_id, src_id))
            else:
                w = _words(rng, DOC_WORDS)
            docs.append((next_id, " ".join(w)))
            next_id += 1
        batches.append(docs)
        planted.append(pairs)
    return store, batches, planted
