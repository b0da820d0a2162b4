"""Seeded crawl-page generator owned by the benchmark.

Rows follow the pipeline's input schema (url, warc_ts, html, text,
lang). Each page is a few causal sentences ("<cause> <trigger> <effect>
.") mixed with filler sentences; a few pages are non-English. The html
is escaped <p> paragraphs joined by blank lines, so the program's frozen
extractor returns `text` byte for byte and its extraction check passes.

Two vocabularies shape the entity-linking work:
  - closed: a fixed list of cause and effect phrases with case and
    plural variants. Mentions repeat heavily, so the form vocabulary
    stays small and triples gather many pieces of evidence.
  - open: the same phrases, most of them qualified by one of
    `n_places` generated place names ("... in korbanville"). The form
    vocabulary grows with the corpus, as on the open web.

Every page is a pure function of (seed, vocabulary, page index): page
i of a corpus is the same page whatever the corpus size, so a crawl
delta is pages [n, n + d) on top of corpus pages [0, n).
"""

from __future__ import annotations

import datetime as _dt
import html as _html
import random

CAUSES = [
    "heavy rain", "the earthquake", "rising prices", "supply shortages",
    "the policy change", "severe drought", "the cyberattack", "budget cuts",
    "the heat wave", "crop failure", "the strike", "currency devaluation",
    "the wildfire", "overfishing", "the embargo", "rapid urbanization",
    "the pandemic", "port congestion", "a bank collapse", "the cold snap",
]
EFFECTS = [
    "severe flooding", "widespread damage", "public protests",
    "factory closures", "higher unemployment", "water rationing",
    "data breaches", "service delays", "power outages", "food insecurity",
    "traffic disruption", "inflation spikes", "habitat loss",
    "fish stock collapse", "fuel shortages", "housing pressure",
    "school closures", "hospital overcrowding", "price controls",
    "crop losses",
]
TRIGGERS = ["caused", "led to", "resulted in", "triggered", "sparked",
            "produced", "induced", "provoked"]
FILLERS = [
    "officials met on tuesday to review the situation",
    "analysts expect the trend to continue next quarter",
    "local residents were advised to stay indoors",
    "the report was published after a lengthy delay",
    "markets remained calm through the afternoon session",
    "the committee will publish its findings next month",
    "reporters were not allowed into the building",
    "the minister declined to comment on the figures",
]
NON_EN = {
    "de": "der bericht wurde am dienstag veroeffentlicht und die lage bleibt stabil",
    "es": "el informe fue publicado el martes y la situacion sigue estable",
    "fr": "le rapport a ete publie mardi et la situation reste stable",
}
_ONSET = ["k", "p", "r", "v", "m", "t", "l", "sh", "b", "d", "g", "z", "f",
          "n", "h", "br", "st", "tr", "gr", "pl"]
_VOWEL = ["a", "o", "e", "i", "u", "ai", "ou"]
_CODA = ["", "n", "r", "l", "s", "m", "nd", "rk"]
_SUFFIX = ["ville", "ton", "burg", "field", "port", "dale", "mouth",
           "ford", "wick", "stead"]
_BASE_TS = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)


def place_name(k: int) -> str:
    """Pseudo place name for pool index k (mixed-radix syllables)."""
    parts = []
    for _ in range(2):
        k, o = divmod(k, len(_ONSET))
        k, v = divmod(k, len(_VOWEL))
        k, c = divmod(k, len(_CODA))
        parts.append(_ONSET[o] + _VOWEL[v] + _CODA[c])
    return "".join(parts) + _SUFFIX[k % len(_SUFFIX)]


def _variant(phrase: str, rng: random.Random) -> str:
    v = rng.randrange(4)
    if v == 1:
        return phrase.capitalize()
    if v == 2:
        return phrase.title()
    if v == 3 and not phrase.endswith("s"):
        return phrase + "s"
    return phrase


def _mention(phrases: list[str], rng: random.Random, n_places: int) -> str:
    m = _variant(rng.choice(phrases), rng)
    if n_places and rng.random() < 0.75:
        m += " in " + place_name(rng.randrange(n_places))
    return m


def page(seed: int, i: int, n_places: int) -> dict:
    """Page i of the corpus for `seed`; n_places=0 gives the closed
    vocabulary."""
    rng = random.Random(f"perfbench:{seed}:{n_places}:{i}")
    url = f"https://d{min(int(rng.paretovariate(1.2)), 50):02d}.example.org/{seed}/{i}"
    lang = "en" if rng.random() < 0.9 else rng.choice(sorted(NON_EN))
    if lang == "en":
        sents = [f"{_mention(CAUSES, rng, n_places)} {rng.choice(TRIGGERS)} "
                 f"{_mention(EFFECTS, rng, n_places)} ."
                 for _ in range(rng.randint(2, 5))]
        sents += [rng.choice(FILLERS) + " ." for _ in range(rng.randint(3, 7))]
        rng.shuffle(sents)
        cut = len(sents) // 2
        paras = [" ".join(sents[:cut]), " ".join(sents[cut:])]
    else:
        paras = [NON_EN[lang]]
    body = "".join(f"<p>{_html.escape(p)}</p>" for p in paras)
    return {
        "url": url,
        "warc_ts": _BASE_TS + _dt.timedelta(seconds=rng.randrange(365 * 86400)),
        "html": (f'<html><head><meta charset="utf-8"/><title>{i}</title>'
                 f"</head><body><article>{body}</article></body></html>"
                 ).encode("utf-8"),
        "text": "\n\n".join(paras),
        "lang": lang,
    }


def pages(seed: int, start: int, stop: int, n_places: int) -> list[dict]:
    return [page(seed, i, n_places) for i in range(start, stop)]
