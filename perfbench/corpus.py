"""Seeded corpus generator for the benchmark.

Stdlib only: it carries its own word lists and never imports the package,
so a change to the package (its language-ID profiles, say) cannot change
the inputs. The same seed always yields the same bytes.

Every generated page has a ground-truth label:

    {"url": ..., "category": ..., "source": <url or null>, "edit_rate": <float or null>}

``category`` is what the page was planted as (``en`` for clean English
prose, ``de``/``fr``/``zh`` for foreign pages, or the name of the drop
rule it is built to trip). ``source`` names the page a duplicate was
copied from; ``edit_rate`` is the share of words a near-copy substituted.

One corpus per workload:

* ``pipeline_pages``: multi-paragraph web pages: 16% de/fr/zh, the rest
  English, among them pages planted to trip each drop rule and pages
  carrying a little PII that stay kept (so masking does real work).
* ``index_corpora``: a base corpus and a nightly batch ~1/10 its size in
  which ~30% of pages are word-edited near-copies (of base pages or of
  earlier batch pages) whose 3-shingle Jaccard straddles 0.8.
"""

from __future__ import annotations

import json
import random

# Function words of each language. The English list is what makes the
# prose read as English; the foreign lists make de/fr pages unmistakable.
EN_FUNCTION = (
    "the of and to in is that it for was with are this have from not they "
    "his her you a an on at as be by or but all one we had were which the "
    "of and to in a there their into over after when while about"
).split()
EN_CONTENT = (
    "river market garden window winter summer harbor bridge village county "
    "railway station library museum council teacher student farmer doctor "
    "engineer painter writer captain soldier merchant sailor plumber miller "
    "history science music theatre language region province valley mountain "
    "forest island coast desert meadow orchard vineyard cottage castle tower "
    "church chapel school college hospital factory workshop bakery tavern "
    "road street avenue square park field pasture stream lake pond canal "
    "harvest festival season journey voyage expedition report letter record "
    "account journal chronicle survey census treaty charter statute decree "
    "election parliament minister governor mayor sheriff judge jury witness "
    "company partner investor customer supplier product service contract "
    "engine machine device circuit battery signal network channel antenna "
    "cable copper silver timber marble granite cotton linen leather paper "
    "bread cheese butter apple pear cherry barley wheat oats honey salt "
    "pepper ginger coffee cocoa sugar lantern candle mirror carpet curtain "
    "blanket basket bucket barrel ladder hammer chisel anvil needle thread "
    "compass telescope microscope pendulum formula theorem equation method "
    "pattern measure number fraction volume pressure current voltage weight "
    "distance velocity rhythm melody harmony chorus ballad sonnet novel "
    "chapter verse essay lecture seminar debate argument question answer "
    "problem solution design drawing sketch portrait landscape sculpture "
    "fountain statue monument memorial cemetery pilgrimage tradition custom "
    "ceremony wedding holiday birthday neighbor family cousin brother sister "
    "uncle grandmother daughter nephew friend stranger traveler visitor guest "
    "built opened closed described recorded measured planted gathered carried "
    "painted printed published founded restored expanded repaired designed "
    "visited crossed followed reached returned improved studied explained "
    "quiet ancient modern northern southern eastern western central coastal "
    "narrow broad steep gentle bright early late rural urban local annual "
    "careful patient famous common rare heavy light strong simple formal"
).split()

DE_FUNCTION = (
    "der die das und ist von mit den nicht ein eine als auch auf sich des "
    "dem zu im für wird sind wurde aus bei nach noch wie oder aber"
).split()
DE_CONTENT = (
    "Stadt Fluss Garten Fenster Winter Sommer Hafen Brücke Dorf Bahnhof "
    "Bibliothek Museum Lehrer Schüler Bauer Arzt Geschichte Wissenschaft "
    "Musik Sprache Gegend Berg Wald Insel Küste Kirche Schule Fabrik Straße "
    "Feld Ernte Reise Bericht Brief Regierung Gericht Vertrag Maschine "
    "gebaut geöffnet beschrieben gemessen gepflanzt gesammelt getragen "
    "ruhig alt neu nördlich südlich schmal breit hell früh spät ländlich"
).split()
FR_FUNCTION = (
    "le la les des est et en que qui dans pour pas une sur avec son ne ce il "
    "au du un par plus mais ou sont été"
).split()
FR_CONTENT = (
    "ville rivière jardin fenêtre hiver été port pont village gare "
    "bibliothèque musée professeur élève fermier médecin histoire science "
    "musique langue région montagne forêt île côte église école usine rue "
    "champ récolte voyage rapport lettre gouvernement tribunal traité machine "
    "construit ouvert décrit mesuré planté recueilli porté calme ancien "
    "moderne nord sud étroit large clair tôt tard rural"
).split()
ZH_CHARS = (
    "的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分对成会可"
    "主发年动同工也能下过子说产种面而方后多定行学法所民得经十三之进着等部度家"
    "电力里如水化高自二理起小物现实加量都两体制机当使点从业本去把性好应开它合"
    "还因由其些然前外天政四日那社义事平形相全表间样与关各重新线内数正心反你明"
    "看原又么利比或但质气第向道命此变条只没结解问意建月公无系军很情者最立代想"
)

PIPELINE_CATEGORIES = {
    # planted category -> drop_reason the pipeline must give it
    "too_short_chars": "too_short_chars",
    "too_long": "too_long",
    "low_alpha_ratio": "low_alpha_ratio",
    "high_repetition": "high_repetition",
    "repetitive_token_spam": "repetitive_token_spam",
    "pii_heavy": "pii_heavy",
    "blocked_url": "blocked_url",
    "exact_duplicate": "exact_duplicate",
    "near_duplicate": "near_duplicate",
    "de": "non_english",
    "fr": "non_english",
    "zh": "non_english",
}

# Substitution rates of near-copies, cycled so every seed plants the same
# mix. With s substituted words out of n, word-3-shingle Jaccard is about
# (1 - 3s/n) / (1 + 3s/n): these give ~0.97, 0.94, 0.91, 0.89, 0.86 (above
# the 0.8 verify and 0.7 estimate thresholds) and ~0.45, 0.25 (below), far
# enough from either threshold that recall barely moves between seeds.
NEAR_COPY_RATES = (0.005, 0.01, 0.015, 0.02, 0.025, 0.13, 0.2)


def _sentence(rng: random.Random, function: list[str], content: list[str],
              lo: int = 8, hi: int = 18, p_function: float = 0.5) -> str:
    words = [
        rng.choice(function) if rng.random() < p_function else rng.choice(content)
        for _ in range(rng.randint(lo, hi))
    ]
    return " ".join(words).capitalize() + "."


def _prose(rng: random.Random, function: list[str], content: list[str],
           paragraphs: tuple[int, int] = (2, 5)) -> str:
    paras = []
    for _ in range(rng.randint(*paragraphs)):
        paras.append(" ".join(
            _sentence(rng, function, content) for _ in range(rng.randint(3, 6))
        ))
    return "\n\n".join(paras)


def english_page(rng: random.Random) -> str:
    return _prose(rng, EN_FUNCTION, EN_CONTENT)


def _zh_page(rng: random.Random) -> str:
    paras = []
    for _ in range(rng.randint(2, 4)):
        paras.append("".join(
            "".join(rng.choice(ZH_CHARS) for _ in range(rng.randint(10, 30))) + "。"
            for _ in range(rng.randint(3, 6))
        ))
    return "\n\n".join(paras)


def _email(rng: random.Random) -> str:
    return f"{rng.choice(EN_CONTENT)}.{rng.choice(EN_CONTENT)}{rng.randint(1, 99)}@example.org"


def _phone(rng: random.Random) -> str:
    return f"+1 {rng.randint(200, 999)}-{rng.randint(200, 999)}-{rng.randint(1000, 9999)}"


def _with_pii(rng: random.Random, text: str, n: int) -> str:
    """Insert ``n`` contact strings (every third a phone number, the rest
    emails) between words."""
    words = text.split(" ")
    for i in range(n):
        contact = _email(rng) if i % 3 != 2 else _phone(rng)
        words.insert(rng.randrange(1, len(words)), f"at {contact} or")
    return " ".join(words)


def _low_alpha(rng: random.Random) -> str:
    # English function words between short numbers: letters are well under
    # half the characters, and no digit run is long enough to read as a
    # phone or card number.
    parts = []
    for _ in range(rng.randint(120, 200)):
        parts.append(rng.choice(EN_FUNCTION))
        parts.append(f"{rng.randint(10, 9999)}.{rng.randint(0, 99)}%")
    return " ".join(parts)


def _high_repetition(rng: random.Random) -> str:
    # one English line, half of it function words, said over and over
    line = " ".join(
        f"{rng.choice(('the', 'of', 'and', 'to', 'in'))} {rng.choice(EN_CONTENT)}"
        for _ in range(6)
    ).capitalize() + "."
    return " ".join([line] * rng.randint(30, 50))


def _token_spam(rng: random.Random) -> str:
    # One token holds ~75% of the words while a quarter are distinct, so
    # the whole-text repetition ratio stays under its 0.8 limit and only
    # the stage-4 dominant-token rule can fire.
    distinct = rng.sample(EN_CONTENT, 30)
    words = ["the"] * 90 + distinct
    rng.shuffle(words)
    return " ".join(words)


def _too_long(rng: random.Random) -> str:
    paras = []
    n_words = 0
    while n_words < 5400:
        para = " ".join(_sentence(rng, EN_FUNCTION, EN_CONTENT) for _ in range(6))
        n_words += para.count(" ") + 1
        paras.append(para)
    return "\n\n".join(paras)


def _near_prefix_copy(rng: random.Random, source: str) -> str:
    # Same first 600 characters as the source, then a new tail: the
    # 500-char prefix key matches while the texts differ.
    return source[:600] + " " + _prose(rng, EN_FUNCTION, EN_CONTENT, (1, 2))


# Share of the CLI corpus planted in each category (at least 2 pages each);
# the rest is clean English prose. Fixed counts, so every seed plants the
# same mix and only the page texts and their order change.
PIPELINE_SHARES = {
    "en_pii": 0.04, "de": 0.06, "fr": 0.06, "zh": 0.04,
    "too_short_chars": 0.015, "too_long": 0.003, "low_alpha_ratio": 0.015,
    "high_repetition": 0.015, "repetitive_token_spam": 0.015,
    "pii_heavy": 0.015, "blocked_url": 0.015,
    "exact_duplicate": 0.025, "near_duplicate": 0.025,
}


def _schedule(rng: random.Random, n: int, shares: dict[str, float],
              rest: str, lead: int) -> list[str]:
    """Categories of ``n`` pages in input order: fixed counts per category,
    shuffled after ``lead`` pages of ``rest``, so every copy has a source
    page before it."""
    counts = {c: max(2, round(share * n)) for c, share in shares.items()}
    rest_n = n - lead - sum(counts.values())
    if rest_n < 0:
        raise ValueError(f"{n} pages are too few for the planted mix")
    order = [c for c, k in counts.items() for _ in range(k)] + [rest] * rest_n
    rng.shuffle(order)
    return [rest] * lead + order


def pipeline_pages(seed: int, n_pages: int) -> tuple[list[dict], list[dict]]:
    """Pages for the CLI workload and their labels, in input order.

    Exact and prefix copies follow their sources in the input, so the
    source is always the first occurrence; their sources are clean
    English pages of at least 700 characters.
    """
    rng = random.Random(f"pipeline:{seed}")
    pages: list[dict] = []
    labels: list[dict] = []
    sources: list[str] = []

    for i, category in enumerate(
        _schedule(rng, n_pages, PIPELINE_SHARES, "en", lead=20)
    ):
        source = None
        host = "news.example.com"
        if category == "en":
            text = english_page(rng)
        elif category == "en_pii":
            text = _with_pii(rng, english_page(rng), rng.randint(1, 3))
        elif category == "de":
            text = _prose(rng, DE_FUNCTION, DE_CONTENT)
        elif category == "fr":
            text = _prose(rng, FR_FUNCTION, FR_CONTENT)
        elif category == "zh":
            text = _zh_page(rng)
        elif category == "too_short_chars":
            text = rng.choice(["Short note.", "See below.", "Thanks all!"])
        elif category == "too_long":
            text = _too_long(rng)
        elif category == "low_alpha_ratio":
            text = _low_alpha(rng)
        elif category == "high_repetition":
            text = _high_repetition(rng)
        elif category == "repetitive_token_spam":
            text = _token_spam(rng)
        elif category == "pii_heavy":
            text = _with_pii(rng, english_page(rng), rng.randint(24, 30))
        elif category == "blocked_url":
            text = english_page(rng)
        else:  # a copy
            source = rng.choice(sources)
            host = "mirror.example.net"
            src_text = pages[int(source.rsplit("/", 1)[1])]["text"]
            text = src_text if category == "exact_duplicate" else _near_prefix_copy(rng, src_text)
        path = "ads/" if category == "blocked_url" else ""
        url = f"https://{host}/{path}{category}/{i}"
        pages.append({"url": url, "text": text})
        labels.append({"url": url, "category": category, "source": source,
                       "edit_rate": None})
        if category == "en" and len(text) >= 700:
            sources.append(url)
    return pages, labels


def near_copy(rng: random.Random, text: str, rate: float) -> str:
    """Substitute ``max(1, round(rate * words))`` words, one always in the
    first 40 so the copy never shares a 500-character prefix key with its
    source (prefix dedup would catch it before MinHash could)."""
    words = text.split(" ")
    k = max(1, round(rate * len(words)))
    positions = {rng.randrange(0, min(40, len(words)))}
    while len(positions) < min(k, len(words)):
        positions.add(rng.randrange(len(words)))
    for p in positions:
        words[p] = rng.choice(EN_CONTENT) + rng.choice(("", "s", "ed", "ing"))
    return " ".join(words)


INDEX_SHARES = {"near_copy": 0.20, "batch_copy": 0.10}


def index_corpora(seed: int, n_base: int, n_batch: int
                  ) -> tuple[list[dict], list[dict], list[dict]]:
    """``(base, batch, batch_labels)`` for the nightly-index workload.

    Rows are ``{"doc_id": int, "text": str}``; batch ids start after the
    base ids so the nightly append never re-ingests a known id. 20% of the
    batch are near-copies of base pages (``near_copy``), 10% near-copies
    of an earlier fresh batch page (``batch_copy``), the rest fresh pages.
    """
    rng = random.Random(f"index:{seed}")
    base = [{"doc_id": i, "text": english_page(rng)} for i in range(n_base)]
    batch: list[dict] = []
    labels: list[dict] = []
    fresh: list[int] = []
    n_copies = 0
    for j, category in enumerate(_schedule(rng, n_batch, INDEX_SHARES, "fresh", lead=2)):
        doc_id = n_base + j
        if category == "fresh":
            fresh.append(doc_id)
            source, text, rate = None, english_page(rng), None
        else:
            if category == "near_copy":
                source = rng.randrange(n_base)
                src_text = base[source]["text"]
            else:
                source = rng.choice(fresh)
                src_text = batch[source - n_base]["text"]
            rate = NEAR_COPY_RATES[n_copies % len(NEAR_COPY_RATES)]
            n_copies += 1
            text = near_copy(rng, src_text, rate)
            source = str(source)
        batch.append({"doc_id": doc_id, "text": text})
        labels.append({"url": str(doc_id), "category": category, "source": source,
                       "edit_rate": rate})
    return base, batch, labels


def write_jsonl(rows: list[dict], path: str) -> None:
    """Write ``rows`` as UTF-8 JSON lines, keys sorted (same rows, same bytes)."""
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, ensure_ascii=False, sort_keys=True) + "\n")
