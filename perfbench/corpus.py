"""Seeded synthetic crawl corpus for the benchmark.

The engine's own `sources/synth.py::synth_docs` takes no seed, so every
run would see one identical graph. This generator draws everything
from `random.Random(seed)`: the same seed gives byte-identical inputs,
and the seed also moves the two input properties the engine's cost
depends on:

* host skew — documents are spread over each component's hosts by a
  Zipf law whose exponent is drawn from [0.9, 1.3];
* non-canonical share — each link is de-canonicalized with a
  probability drawn from [0.25, 0.35]. Half of the variants (scheme /
  host case, `#fragment`) stay on the JVM tier-2 repair; the other half
  (`:80/./`, `/../` dot segments) cross into the Arrow canonicalizer.

The graph is made of `n_components` disconnected components with their
own hosts, so crawls seeded in different components never share an
accepted URL (the precondition under which concurrent tiers equal
sequential crawls, see plans/multiwave.py). Inside a component, link
targets are uniform, so a BFS from any document reaches nearly the
whole component within a few waves and crawl sizes barely move with
the seed.

Besides page links, documents carry the link shapes each filter
rejects: blacklisted spam hosts, blacklisted IP literals, robots-
disallowed `/private/` paths, image links (content-domain filter) and
unparseable links. The schema is the engine's input table
`documents(doc_id string, spans array<struct<kind, text, media_ref,
offset>>)`.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

N_SPAM_HOSTS = 40
N_FAKE_HOST_RULES = 13_394  # + the spam hosts = 13,434 host rules
N_IP_RULES = 9  # the shipped list's regex rules have this shape
N_ROBOTS_HOSTS = 100
LINKS_PER_DOC = 7
UNPARSEABLE = ("javascript:void(0)", "mailto:info@example.org", "http://")

SPANS_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


@dataclass
class Corpus:
    doc_ids: list[str]
    spans: list[list[tuple]]  # per doc: (kind, text, media_ref, offset)
    hosts: list[list[str]]  # per component
    robots: dict[str, dict]  # host -> {disallow: [...], delay_ms: int}
    messy_share: float
    zipf_s: float

    def component_doc(self, component: int) -> str:
        """The first document of a component: its hub, a crawl seed."""
        per = len(self.doc_ids) // len(self.hosts)
        return self.doc_ids[component * per]

    def write_parquet(self, path: str) -> None:
        table = pa.table(
            {
                "doc_id": pa.array(self.doc_ids, pa.string()),
                "spans": pa.array(
                    [
                        [
                            {"kind": k, "text": t, "media_ref": m, "offset": o}
                            for k, t, m, o in spans
                        ]
                        for spans in self.spans
                    ],
                    SPANS_TYPE,
                ),
            }
        )
        pq.write_table(table, path)

    def oracle_docs(self) -> "OracleDocs":
        return OracleDocs(self)


class OracleDocs:
    """`doc_id -> spans` view in the shape `oracle.spec.crawl` reads
    (`docs.get(url)` → list of span dicts), built per lookup so the
    whole corpus never exists twice in memory."""

    def __init__(self, corpus: Corpus):
        self._index = {d: i for i, d in enumerate(corpus.doc_ids)}
        self._spans = corpus.spans

    def get(self, doc_id: str, default=None):
        i = self._index.get(doc_id)
        if i is None:
            return default
        return [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in self._spans[i]
        ]


def _zipf_cdf(n: int, s: float) -> list[float]:
    weights = [1.0 / (k + 1) ** s for k in range(n)]
    total = sum(weights)
    acc, cdf = 0.0, []
    for w in weights:
        acc += w / total
        cdf.append(acc)
    cdf[-1] = 1.0
    return cdf


def _messy(rng: random.Random, url: str) -> str:
    """A non-canonical spelling of canonical `url` that canonicalizes
    back to it."""
    scheme_host, path = url[: url.index("/", 8)], url[url.index("/", 8) :]
    v = rng.randrange(4)
    if v == 0:  # tier-2: scheme/host case
        return scheme_host.upper() + path
    if v == 1:  # tier-2: fragment
        return f"{url}#s{rng.randrange(10)}"
    if v == 2:  # Arrow kernel: default port + dot segment
        return f"{scheme_host}:80/.{path}"
    return f"{scheme_host}/page/..{path}"  # Arrow kernel: parent segment


def generate(
    seed: int,
    n_docs: int,
    n_components: int = 16,
    hosts_per_component: int = 8,
) -> Corpus:
    rng = random.Random(seed)
    messy_share = 0.25 + 0.10 * rng.random()
    zipf_s = 0.9 + 0.4 * rng.random()
    per = n_docs // n_components
    n_docs = per * n_components
    hosts = [
        [f"www{k}.site{c:02d}.org" for k in range(hosts_per_component)]
        for c in range(n_components)
    ]
    cdf = _zipf_cdf(hosts_per_component, zipf_s)

    def pick_host(comp: int) -> str:
        x = rng.random()
        for k, edge in enumerate(cdf):
            if x <= edge:
                return hosts[comp][k]
        return hosts[comp][-1]

    doc_ids = [
        f"http://{pick_host(i // per)}/page/{i}.html" for i in range(n_docs)
    ]
    all_hosts = [h for hs in hosts for h in hs]
    robots = {
        h: {"disallow": ["/private/"], "delay_ms": rng.choice((0, 100, 250, 500))}
        for h in sorted(rng.sample(all_hosts, min(N_ROBOTS_HOSTS, len(all_hosts))))
    }

    spans: list[list[tuple]] = []
    for i, doc in enumerate(doc_ids):
        base = (i // per) * per
        host = doc[7 : doc.index("/", 7)]
        out = [("canonical", doc, None, 0)]
        # the first document of a component is a hub (the crawl seed):
        # distinct page links only, so every crawl's first two waves
        # have the same size whatever the seed
        hub = rng.sample(range(base + 1, base + per), LINKS_PER_DOC) if i == base else None
        for off in range(1, LINKS_PER_DOC + 1):
            r = 1.0 if hub else rng.random()
            if r < 0.02:
                text = f"http://spam{rng.randrange(N_SPAM_HOSTS):02d}.example.net/offer/{rng.randrange(1000)}.html"
            elif r < 0.03:
                text = f"http://10.{rng.randrange(N_IP_RULES)}.{rng.randrange(256)}.1/admin/{rng.randrange(100)}.html"
            elif r < 0.07:
                text = f"http://{host}/private/{rng.randrange(per)}.html"
            elif r < 0.10:
                text = f"http://{host}/img/{rng.randrange(per)}.jpg"
            elif r < 0.11:
                text = rng.choice(UNPARSEABLE)
            else:
                text = doc_ids[hub[off - 1] if hub else base + rng.randrange(per)]
                if rng.random() < messy_share:
                    text = _messy(rng, text)
            kind = "inbound" if text.startswith(f"http://{host}/") else "outbound"
            out.append((kind, text, None, off))
        if rng.random() < 0.2:
            out.append(("media", None, f"http://{host}/asset/{i}.jpg", LINKS_PER_DOC + 1))
        spans.append(out)
    return Corpus(doc_ids, spans, hosts, robots, messy_share, zipf_s)


def blacklist_rules(seed: int):
    """The reference-sized crawler blacklist: 13,434 host rules (the
    corpus's spam hosts among them) and 9 IP-literal regex rules."""
    from yacy_grid_crawler_spark.operators.blacklist import BlacklistRule

    rng = random.Random(seed + 1)
    fake = rng.sample(range(10 * N_FAKE_HOST_RULES), N_FAKE_HOST_RULES)
    hosts = [f"spam{k:02d}.example.net" for k in range(N_SPAM_HOSTS)]
    hosts += [f"evil{k:06d}.example.net" for k in fake]
    return [BlacklistRule("host", h, "", "perfbench", "") for h in hosts] + [
        BlacklistRule("regex", None, rf".*?//10\.{i}\..*+", "perfbench", "")
        for i in range(N_IP_RULES)
    ]


def oracle_blacklist(rules) -> list[dict]:
    return [
        {"rule_kind": r.rule_kind, "host": r.host, "pattern": r.pattern}
        for r in rules
    ]
