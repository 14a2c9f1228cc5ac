"""Registered-domain (eTLD+1) extraction: public-suffix semantics Spark-first.

Production crawlers enforce politeness, mirror detection, and URL-dedup
grouping at the REGISTERED domain ("example.co.uk"), not the raw host —
"a.example.co.uk" and "b.example.co.uk" are one site operator and must
share a fetch budget, while "a.co.uk" and "b.co.uk" are unrelated
registrants. The reference engine has no domain layer at all (warcbench
groups its per-domain report by raw netloc — scripts/summarize.py /
utils.py get_netloc); this module adds the layer a frontier at 10^10 URLs
needs, in two deployment shapes:

- :func:`registered_domain` — a pure Column expression (codegen, zero
  shuffle) over a built-in SNAPSHOT of common two-label public suffixes
  (publicsuffix.org is the authority; the snapshot covers the high-traffic
  ccTLD registries and is deliberately small so the expression stays an
  InSet membership test). The hot-path choice: runs inline in the crawl
  round at zero extra exchanges.
- :func:`registered_domain_map` — FULL Public Suffix List semantics
  (exact + wildcard ``*.`` + exception ``!`` rules, longest-match
  prevails, exception beats wildcard — the publicsuffix.org algorithm)
  as a relational plan: distinct hosts (~10^7 at crawl scale, orders of
  magnitude smaller than the 10^10-row pages/frontier tables) explode
  into ≤ max_labels candidate suffixes each and equi-join the broadcast
  rule table; the result is a (host, reg_domain) dim table the caller
  broadcast-joins back onto the big side. No UDFs anywhere; every
  candidate row is two short strings and two ints.

Scale contract: the big table NEVER shuffles for domain derivation —
either the expression path computes it inline, or the dim-table path
shuffles only distinct hosts. The rule table (~10k rows for the real
PSL) is broadcast.

Politeness integration: :func:`apply_domain_politeness` runs the same
budget window as frontier.apply_politeness but keyed by registered
domain; `crawl_round(politeness_scope="registered_domain")`
opts the whole round in.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Snapshot of common two-label public suffixes (source of truth:
# publicsuffix.org; this is the deliberately-compact high-traffic subset —
# pass the full list to registered_domain_map for exact PSL semantics).
TWO_LABEL_SUFFIX_SNAPSHOT: tuple[str, ...] = (
    # United Kingdom
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk",
    "plc.uk", "sch.uk",
    # Australia
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    # Japan
    "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp", "gr.jp",
    "lg.jp",
    # Brazil
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    # China
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    # India
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "edu.in",
    "gov.in",
    # Mexico
    "com.mx", "org.mx", "net.mx", "gob.mx", "edu.mx",
    # South Korea
    "co.kr", "or.kr", "ne.kr", "go.kr", "re.kr", "pe.kr", "ac.kr",
    # Taiwan
    "com.tw", "org.tw", "net.tw", "edu.tw", "gov.tw", "idv.tw",
    # Argentina
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    # South Africa
    "co.za", "org.za", "net.za", "gov.za", "ac.za", "web.za",
    # Turkey
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr",
    # Singapore / Hong Kong
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    # New Zealand
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "geek.nz", "gen.nz",
    "school.nz",
    # Southeast Asia
    "com.my", "net.my", "org.my", "gov.my", "edu.my",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph",
    "com.vn", "net.vn", "org.vn", "gov.vn", "edu.vn",
    "co.th", "in.th", "or.th", "ac.th", "go.th",
    "co.id", "or.id", "web.id", "ac.id", "sch.id", "go.id", "my.id",
    # South Asia
    "com.pk", "net.pk", "org.pk", "gov.pk", "edu.pk",
    "com.bd", "net.bd", "org.bd", "gov.bd", "edu.bd",
    "com.np", "org.np", "net.np", "gov.np", "edu.np",
    "com.lk", "org.lk", "net.lk", "gov.lk", "edu.lk",
    # Europe / Middle East / Africa
    "com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua", "in.ua",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il", "k12.il",
    "com.sa", "net.sa", "org.sa", "gov.sa", "edu.sa", "med.sa", "sch.sa",
    "com.eg", "net.eg", "org.eg", "gov.eg", "edu.eg",
    "com.ng", "net.ng", "org.ng", "gov.ng", "edu.ng",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke",
    "co.tz", "or.tz", "go.tz", "ac.tz",
    "co.zw", "org.zw", "gov.zw", "ac.zw",
    # Americas
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "gob.pe", "edu.pe", "nom.pe",
    "com.ve", "net.ve", "org.ve", "gob.ve", "co.ve", "web.ve",
    "com.ec", "net.ec", "org.ec", "gob.ec", "edu.ec",
    "com.uy", "net.uy", "org.uy", "gub.uy", "edu.uy",
    "com.bo", "net.bo", "org.bo", "gob.bo", "edu.bo",
    "com.py", "net.py", "org.py", "gov.py", "edu.py",
    "com.gt", "net.gt", "org.gt", "gob.gt", "edu.gt",
    "com.do", "net.do", "org.do", "gob.do", "edu.do",
)

_IPV4_RE = r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$"


def registered_domain(
    host: Column, extra_two_label: Sequence[str] = ()
) -> Column:
    """eTLD+1 of an already-canonical host (lowercase, no port — url_host's
    output contract) as a pure Column: InSet membership against the
    two-label suffix snapshot, substring_index label slicing, no shuffle.

    Semantics (publicsuffix.org algorithm restricted to two-label rules +
    the implicit ``*`` default rule):

    - IPv4 literal → the address itself (one "site" per IP);
    - single-label host → NULL (the host IS a public suffix under the
      default rule — "localhost", bare TLDs);
    - host whose last two labels are a known public suffix → the last
      THREE labels ("a.b.example.co.uk" → "example.co.uk"), NULL when the
      host is exactly the suffix ("co.uk" → NULL);
    - otherwise → the last two labels ("a.b.example.com" → "example.com").

    NULL in → NULL out. ``extra_two_label`` extends the snapshot (e.g.
    tenant platforms treated as registry-like: "github.io",
    "blogspot.com") without rebuilding it.
    """
    suffixes = tuple(TWO_LABEL_SUFFIX_SNAPSHOT) + tuple(extra_two_label)
    n = F.size(F.split(host, r"\."))
    last2 = F.substring_index(host, ".", -2)
    last3 = F.substring_index(host, ".", -3)
    return (
        F.when(host.isNull(), F.lit(None).cast("string"))
        .when(host.rlike(_IPV4_RE), host)
        .when(n <= 1, F.lit(None).cast("string"))
        .when(
            last2.isin(*suffixes),
            F.when(n >= 3, last3).otherwise(F.lit(None).cast("string")),
        )
        .otherwise(last2)
    )


def with_registered_domain(
    df: DataFrame,
    host_col: str = "host",
    out: str = "reg_domain",
    extra_two_label: Sequence[str] = (),
) -> DataFrame:
    """Column-append convenience for :func:`registered_domain`."""
    return df.withColumn(
        out, registered_domain(F.col(host_col), extra_two_label)
    )


# ---------------------------------------------------------------------------
# full Public Suffix List semantics, relationally
# ---------------------------------------------------------------------------


def parse_suffix_rules(spark: SparkSession, rules: Iterable[str]) -> DataFrame:
    """PSL rule lines → the join-ready rule table for
    :func:`registered_domain_map`.

    Skips blanks and ``//`` comments. Each rule becomes one row:

    - ``kind``: 'exact' | 'wildcard' (``*.``-prefixed) | 'exception'
      (``!``-prefixed);
    - ``labels``: how many labels a matching candidate suffix has (the
      ``*`` counts as one);
    - ``key_form``: which candidate key the rule joins on — 'full' (the
      whole candidate) for exact/exception, 'tail' (candidate minus its
      first label) for wildcard;
    - ``match_suffix``: the literal to equi-join against that key.

    The (key_form, labels, match_suffix) reshape is what keeps the rule
    match a pure EQUI-join (broadcastable, no OR-condition nested loop)
    in registered_domain_map.
    """
    rows = []
    for raw in rules:
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        line = line.lower()
        if line.startswith("!"):
            body = line[1:]
            rows.append(("exception", body.count(".") + 1, "full", body))
        elif line.startswith("*."):
            tail = line[2:]
            rows.append(("wildcard", tail.count(".") + 2, "tail", tail))
        else:
            rows.append(("exact", line.count(".") + 1, "full", line))
    return spark.createDataFrame(
        rows, "kind string, labels int, key_form string, match_suffix string"
    )


def registered_domain_map(
    hosts: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    max_labels: int = 8,
) -> DataFrame:
    """(host, reg_domain) dim table under FULL publicsuffix.org semantics.

    Algorithm (the PSL spec): every suffix of the host is a candidate;
    a rule matches a candidate exactly (exact/exception) or with its
    leftmost label free (wildcard). The prevailing match is the exception
    rule if any, else the longest match, else the implicit ``*`` default
    (public suffix = the last label). The registered domain is the public
    suffix plus one label — for an exception rule the exception domain
    itself (its public suffix is the rule minus the leftmost label).

    Plan shape (scale-critical): hosts are distinct-ified first (the
    caller passes ANY table; only distinct hosts — ~10^7 at crawl scale —
    proceed), exploded into ≤ max_labels candidate rows of two short
    strings, equi-joined against the broadcast rule table from
    :func:`parse_suffix_rules`, and reduced per host by a SINGLE packed-
    long max (exception_flag * 1024 + labels — one long keeps the
    aggregate a HashAggregate; a max(struct) would fall back to
    SortAggregate). IPv4 literals map to themselves without consulting
    rules. Join the result back to the big table with
    ``F.broadcast(mapping)`` — the pages/frontier side never shuffles.
    """
    h = hosts.select(F.col(host_col).alias("host")).where(
        F.col("host").isNotNull()
    ).distinct()
    n = F.size(F.split(F.col("host"), r"\."))
    ks = F.sequence(F.lit(1), F.least(n, F.lit(max_labels)))
    cand = (
        h.withColumn("_n", n)
        .withColumn("_k", F.explode(ks))
        .withColumn("_cand", F.expr("substring_index(host, '.', -_k)"))
    )
    # one row per (candidate, key_form) so the rule match is an equi-join
    keyed = cand.select(
        "host",
        "_n",
        "_k",
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.lit("full").alias("key_form"),
                        F.col("_cand").alias("key"),
                    ),
                    F.struct(
                        F.lit("tail").alias("key_form"),
                        F.when(
                            F.col("_k") >= 2,
                            F.expr("substring_index(_cand, '.', -(_k - 1))"),
                        ).alias("key"),
                    ),
                ),
                lambda s: s["key"].isNotNull(),
            )
        ).alias("_key"),
    ).select("host", "_n", "_k", "_key.key_form", "_key.key")
    matched = keyed.alias("c").join(
        F.broadcast(rules.alias("r")),
        (F.col("c.key_form") == F.col("r.key_form"))
        & (F.col("c.key") == F.col("r.match_suffix"))
        & (F.col("c._k") == F.col("r.labels")),
        "inner",
    ).select(
        F.col("c.host").alias("host"),
        F.col("c._n").alias("_n"),
        # packed prevailing-rule score: exception beats everything, then
        # the longest match; one long keeps the reduce a HashAggregate
        (
            F.when(F.col("r.kind") == "exception", F.lit(1024)).otherwise(
                F.lit(0)
            )
            + F.col("c._k")
        ).alias("_score"),
    )
    best = matched.groupBy("host", "_n").agg(F.max("_score").alias("_score"))
    # _score non-null marks "some rule matched" — a matched host whose
    # public suffix consumes every label (reg_domain NULL, e.g. 'co.uk')
    # must NOT fall through to the implicit default rule below
    resolved = best.select(
        "host",
        F.col("_score"),
        F.when(
            F.col("_score") >= 1024,
            # exception matched at k labels: public suffix is k-1 wide,
            # registered domain is the exception domain itself
            F.expr("substring_index(host, '.', -(_score - 1024))"),
        )
        .when(
            F.col("_n") > F.col("_score"),
            F.expr("substring_index(host, '.', -(_score + 1))"),
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("_matched_rd"),
    )
    n_left = F.size(F.split(F.col("host"), r"\."))
    return (
        h.join(resolved, "host", "left")
        .select(
            "host",
            F.when(F.col("host").rlike(_IPV4_RE), F.col("host"))
            .when(F.col("_score").isNotNull(), F.col("_matched_rd"))
            .when(
                # implicit '*' default rule: public suffix = last label
                n_left >= 2,
                F.substring_index(F.col("host"), ".", -2),
            )
            .otherwise(F.lit(None).cast("string"))
            .alias("reg_domain"),
        )
    )


def apply_domain_politeness(
    frontier: DataFrame,
    domains: DataFrame,
    default_budget: int = 10,
    extra_two_label: Sequence[str] = (),
) -> DataFrame:
    """Per-REGISTERED-DOMAIN fetch budget: the same politeness window as
    frontier.apply_politeness, keyed by eTLD+1 so
    "a.example.co.uk" and "b.example.co.uk" share one budget while
    "a.co.uk" / "b.co.uk" (distinct registrants) do not.

    ``frontier`` must carry (host, priority, canon_url) — crawl_round's
    post-robots shape. ``domains``: (domain, budget). The domain key is
    derived inline by the :func:`registered_domain` expression (zero extra
    shuffle; the window exchange doubles as the derivation's distribution)
    and hosts with no registered domain (IP-less single labels) fall back
    to their raw host so they still get budgeted individually.
    """
    from wbx.frontier import apply_politeness

    if "_rdom" in frontier.columns:
        raise ValueError(
            "frontier already has a '_rdom' column (staging name)"
        )
    staged = frontier.withColumn(
        "_rdom",
        F.coalesce(
            registered_domain(F.col("host"), extra_two_label), F.col("host")
        ),
    )
    budgets = domains.select(F.col("domain").alias("_rdom"), "budget")
    return apply_politeness(
        staged, budgets, default_budget, key_col="_rdom", budget_key="_rdom"
    ).drop("_rdom")
