"""Deterministic synthetic `sources` corpus (FIXTURES.md §1-2).

Input-table shape per BASELINE.json input_hint:
    (repo string, path string, commit string, lang string, content string)

Two generators:

* ``golden_sources`` — the reference's end-to-end fixture
  (`test/config/migrations/202103191602-create-dummy-import.ttl`) split one
  subject per document (the 0.2.x "split files" semantic, README.md:5),
  with verdicts pinned by the fixture's inline comments.
* ``generate_sources`` — n synthetic person documents, generated entirely
  with Catalyst expressions over ``spark.range`` (no driver-side loop, no
  Python UDF) so the corpus scales to any size the cluster can hold.
  Deterministic in n: row i always produces the same document. A fixed
  fraction violates each constraint class so verdict ratios are known in
  closed form: i%10==7 -> bad ssn pattern; i%10==8 -> two ssns (maxCount);
  i%10==9 -> extra property (closed-shape) + untyped worksFor (class);
  else conforming. Formats round-robin turtle/ntriples/jsonld/rdfxml/
  scoped-context-jsonld by i%5, so all four parse kernels (and the
  JSON-LD scoped-context path) sit on the driver-checked kg_* pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EX = "http://example.com/ns#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

GOLDEN_DOCS: dict[str, str] = {
    "alice": """@prefix ex: <http://example.com/ns#> .
ex:Alice a ex:Person ;
  ex:ssn "987-65-432A" .
""",
    "bob": """@prefix ex: <http://example.com/ns#> .
ex:Bob a ex:Person ;
  ex:ssn "123-45-6789" ;
  ex:ssn "124-35-6789" .
""",
    "calvin": """@prefix ex: <http://example.com/ns#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:Calvin a ex:Person ;
  ex:birthDate "1971-07-07"^^xsd:date ;
  ex:ssn "987-65-4321" ;
  ex:www "kekee" ;
  ex:worksFor ex:UntypedCompany .
""",
    "momo": """@prefix ex: <http://example.com/ns#> .
ex:Momo a ex:Person ;
  ex:ssn "987-65-4321" .
""",
    "agrougrou": """@prefix ex: <http://example.com/ns#> .
ex:Agrougrou a ex:Coucou ;
  ex:ssn "987-65-4321" .
""",
}

# the reference's application profile, verbatim semantics
# (test/config/validation/application-profile.ttl:9-24)
APPLICATION_PROFILE = """
@prefix ex: <http://example.com/ns#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:PersonShape
    a sh:NodeShape ;
    sh:targetClass ex:Person ;
    sh:property [
          sh:path ex:ssn ;
          sh:maxCount 1 ;
          sh:datatype xsd:string ;
          sh:pattern "^\\\\d{3}-\\\\d{2}-\\\\d{4}$" ;
      ] ;
    sh:property [
          sh:path ex:worksFor ;
          sh:class ex:Company ;
          sh:nodeKind sh:IRI ;
      ] ;
    sh:closed true ;
    sh:ignoredProperties ( rdf:type ) .
"""


def profile_text(path: str | None) -> str:
    """Job-entrypoint helper: a SHACL profile file's text, or the
    reference application profile when no path is given (shared by
    validate_job and sparql_job so profile resolution can't diverge)."""
    if path:
        with open(path) as fh:
            return fh.read()
    return APPLICATION_PROFILE


def golden_sources(spark: SparkSession) -> DataFrame:
    rows = [
        ("repo0", f"data/pages/{name}.ttl", f"commit-{name}", "turtle", text)
        for name, text in GOLDEN_DOCS.items()
    ]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def generate_sources(
    spark: SparkSession, n_docs: int, n_partitions: int | None = None
) -> DataFrame:
    """n synthetic person docs, built with pure Catalyst expressions.

    n_partitions sets the range split count directly (narrow; avoids a
    repartition shuffle when callers want finer task granularity)."""
    df = (
        spark.range(0, n_docs, 1, n_partitions)
        if n_partitions
        else spark.range(n_docs)
    ).withColumnRenamed("id", "i")
    i = F.col("i")
    person = F.format_string(EX + "P%d", i)
    ssn_ok = F.format_string(
        "%03d-%02d-%04d", i % 1000, (i * 7) % 100, (i * 13) % 10000
    )
    ssn2 = F.format_string(
        "%03d-%02d-%04d", (i + 1) % 1000, (i * 11) % 100, (i * 17) % 10000
    )
    mode = i % 10
    fmt = i % 5

    ttl = F.concat(
        F.lit('@prefix ex: <http://example.com/ns#> .\nex:P'), i,
        F.lit(" a ex:Person ;\n  ex:ssn "),
        F.when(mode == 7, F.concat(F.lit('"'), ssn_ok, F.lit('X"')))
        .when(mode == 8, F.concat(F.lit('"'), ssn_ok, F.lit('", "'), ssn2, F.lit('"')))
        .otherwise(F.concat(F.lit('"'), ssn_ok, F.lit('"'))),
        F.when(mode == 9,
               F.lit(' ;\n  ex:hobby "x" ;\n  ex:worksFor ex:NoSuchCompany'))
        .otherwise(F.lit("")),
        F.lit(" .\n"),
    )

    nt_ssn = F.when(mode == 7, F.concat(ssn_ok, F.lit("X"))).otherwise(ssn_ok)
    nt = F.concat(
        F.lit("<"), person, F.lit("> <" + RDF_TYPE + "> <" + EX + "Person> .\n"),
        F.lit("<"), person, F.lit("> <" + EX + 'ssn> "'), nt_ssn, F.lit('" .\n'),
        F.when(mode == 8, F.concat(
            F.lit("<"), person, F.lit("> <" + EX + 'ssn> "'), ssn2, F.lit('" .\n')
        )).otherwise(F.lit("")),
        F.when(mode == 9, F.concat(
            F.lit("<"), person, F.lit("> <" + EX + 'hobby> "x" .\n'),
            F.lit("<"), person,
            F.lit("> <" + EX + "worksFor> <" + EX + "NoSuchCompany> .\n"),
        )).otherwise(F.lit("")),
    )

    jsonld = F.concat(
        F.lit('{"@id": "'), person,
        F.lit('", "@type": "' + EX + 'Person", "' + EX + 'ssn": '),
        F.when(mode == 8, F.concat(
            F.lit('["'), ssn_ok, F.lit('", "'), ssn2, F.lit('"]')
        ))
        .when(mode == 7, F.concat(F.lit('"'), ssn_ok, F.lit('X"')))
        .otherwise(F.concat(F.lit('"'), ssn_ok, F.lit('"'))),
        F.when(mode == 9, F.lit(
            ', "' + EX + 'hobby": "x", "' + EX
            + 'worksFor": {"@id": "' + EX + 'NoSuchCompany"}'
        )).otherwise(F.lit("")),
        F.lit("}"),
    )

    # fmt 3: RDF/XML striped grammar (typed node element + text/resource
    # property elements) — routes through parse_rdfxml so a regression in
    # that kernel flips the kg_* driver hashes, not just unit tests
    rdfxml = F.concat(
        F.lit(
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
            ' xmlns:ex="http://example.com/ns#">\n<ex:Person rdf:about="'
        ),
        person,
        F.lit('">\n  <ex:ssn>'),
        F.when(mode == 7, F.concat(ssn_ok, F.lit("X"))).otherwise(ssn_ok),
        F.lit("</ex:ssn>\n"),
        F.when(mode == 8, F.concat(F.lit("  <ex:ssn>"), ssn2, F.lit("</ex:ssn>\n")))
        .otherwise(F.lit("")),
        F.when(mode == 9, F.lit(
            "  <ex:hobby>x</ex:hobby>\n"
            '  <ex:worksFor rdf:resource="' + EX + 'NoSuchCompany"/>\n'
        )).otherwise(F.lit("")),
        F.lit("</ex:Person>\n</rdf:RDF>"),
    )

    # fmt 4: JSON-LD with a prefix @context at the root and a SCOPED
    # @context on the @graph member (JSON-LD 1.1 embedded-context
    # propagation; the r3 parser feature, now on the driver path)
    jsonld_scoped = F.concat(
        F.lit(
            '{"@context": {"ex": "http://example.com/ns#"}, "@graph": ['
            '{"@context": {"ssn": {"@id": "' + EX + 'ssn"}}, "@id": "ex:P'
        ),
        i,
        F.lit('", "@type": "ex:Person", "ssn": '),
        F.when(mode == 8, F.concat(
            F.lit('["'), ssn_ok, F.lit('", "'), ssn2, F.lit('"]')
        ))
        .when(mode == 7, F.concat(F.lit('"'), ssn_ok, F.lit('X"')))
        .otherwise(F.concat(F.lit('"'), ssn_ok, F.lit('"'))),
        F.when(mode == 9, F.lit(
            ', "ex:hobby": "x", "ex:worksFor": {"@id": "ex:NoSuchCompany"}'
        )).otherwise(F.lit("")),
        F.lit("}]}"),
    )

    lang = (
        F.when(fmt == 0, F.lit("turtle"))
        .when(fmt == 1, F.lit("ntriples"))
        .when(fmt == 3, F.lit("rdfxml"))
        .otherwise(F.lit("jsonld"))
    )
    ext = (
        F.when(fmt == 0, F.lit("ttl"))
        .when(fmt == 1, F.lit("nt"))
        .when(fmt == 3, F.lit("rdf"))
        .otherwise(F.lit("jsonld"))
    )
    content = (
        F.when(fmt == 0, ttl)
        .when(fmt == 1, nt)
        .when(fmt == 3, rdfxml)
        .when(fmt == 4, jsonld_scoped)
        .otherwise(jsonld)
    )
    return df.select(
        F.format_string("repo%d", i % 16).alias("repo"),
        F.concat(F.lit("data/pages/page"), i, F.lit("."), ext).alias("path"),
        F.sha2(F.format_string("commit%d", i), 256).substr(1, 40).alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )


# open profile for the entity-linking corpus: Person with pattern-checked
# ssn and required name
ENTITY_PROFILE = """
@prefix ex: <http://example.com/ns#> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:PersonShape a sh:NodeShape ;
  sh:targetClass ex:Person ;
  sh:property [ sh:path ex:ssn ; sh:datatype xsd:string ;
                sh:pattern "^\\\\d{3}-\\\\d{2}-\\\\d{4}$" ] ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ] .
"""


def generate_entity_sources(
    spark: SparkSession, n_docs: int, n_entities: int | None = None
) -> DataFrame:
    """Corpus for the KG-construction extension (entity linking +
    canonicalization): doc i describes person ``ex:E%06d(i)`` whose name
    and ssn are functions of ``i % K`` (K = n_entities), so every group of
    ~n/K documents describes the SAME real-world entity under a different
    IRI. Ground truth is closed-form: K canonical entities; the canonical
    IRI of group r is ex:E%06d(r) (zero-padded so lexicographic min ==
    numeric min); the deduplicated canonical graph has exactly 3 triples
    per group (rdf:type, name, ssn)."""
    if n_entities is None:
        n_entities = max(2, n_docs // 10)
    df = spark.range(n_docs).withColumnRenamed("id", "i")
    i = F.col("i")
    grp = i % n_entities
    ssn = F.format_string("%03d-%02d-%04d", grp % 1000, (grp * 7) % 100, (grp * 13) % 10000)
    content = F.concat(
        F.lit("@prefix ex: <http://example.com/ns#> .\n"),
        F.format_string("ex:E%06d", i),
        F.lit(" a ex:Person ;\n  ex:name "),
        F.concat(F.lit('"Person '), grp, F.lit(' Name"')),
        F.lit(" ;\n  ex:ssn "),
        F.concat(F.lit('"'), ssn, F.lit('"')),
        F.lit(" .\n"),
    )
    return df.select(
        F.format_string("repo%d", i % 16).alias("repo"),
        F.concat(F.lit("data/entities/e"), i, F.lit(".ttl")).alias("path"),
        F.sha2(F.format_string("ecommit%d", i), 256).substr(1, 40).alias("commit"),
        F.lit("turtle").alias("lang"),
        content.alias("content"),
    )


def generate_noisy_entity_sources(
    spark: SparkSession, n_docs: int, n_entities: int | None = None
) -> DataFrame:
    """Entity corpus with CONTROLLED LINKAGE NOISE, for measuring the
    linker's precision/recall against closed-form ground truth (the
    north-rule P/R criterion as a driver-checked query, not just
    exact-match oracles):

    * doc ``i`` mentions ``ex:M%09d(i)`` (unique IRI per doc) and truly
      denotes entity group ``g = i % K``;
    * **false-negative noise**: docs with ``i % 7 == 3`` carry a
      corrupted, globally-unique ssn (``BAD-%09d(i)``) — key blocking
      cannot recover them;
    * **false-positive noise**: groups with ``g % 5 == 4`` carry group
      ``g-1``'s ssn, so the linker merges two distinct entities (the
      scorer accepts: 5/7 token Jaccard + 0.5 strong-key bonus caps
      at 1.0).

    The ssn digit layout is injective in ``g`` for g < 10^9
    (``g%1000 | (g//1000)%100 | g//100000``), so no accidental
    collisions at any test scale. Every noise rule is a pure function of
    ``i``, so predicted-vs-true pair counts have a closed form the
    DuckDB oracle reproduces (queries/kg.py O_LINKING_QUALITY)."""
    if n_entities is None:
        n_entities = max(2, n_docs // 10)
    df = spark.range(n_docs).withColumnRenamed("id", "i")
    i = F.col("i")
    grp = i % n_entities
    carried = F.when((grp % 5 == 4), grp - 1).otherwise(grp)
    ssn = F.format_string(
        "%03d-%02d-%04d",
        carried % 1000, (carried / 1000).cast("long") % 100,
        (carried / 100000).cast("long"),
    )
    corrupt = i % 7 == 3
    content = F.concat(
        F.lit("@prefix ex: <http://example.com/ns#> .\n"),
        F.format_string("ex:M%09d", i),
        F.lit(" a ex:Person ;\n  ex:name "),
        F.concat(F.lit('"Person '), grp, F.lit(' Name"')),
        F.lit(" ;\n  ex:ssn "),
        F.when(corrupt, F.format_string('"BAD-%09d"', i))
        .otherwise(F.concat(F.lit('"'), ssn, F.lit('"'))),
        F.lit(" .\n"),
    )
    return df.select(
        F.format_string("repo%d", i % 16).alias("repo"),
        F.concat(F.lit("data/noisy/e"), i, F.lit(".ttl")).alias("path"),
        F.sha2(F.format_string("ncommit%d", i), 256).substr(1, 40).alias("commit"),
        F.lit("turtle").alias("lang"),
        content.alias("content"),
    )


def generate_chain_sources(
    spark: SparkSession, n_docs: int, chain_len: int = 8
) -> DataFrame:
    """Chain-shaped entity-equivalence corpus: entity E_i shares a strong
    key (ssn) with E_{i+1} only within the same chain of length L
    (key k_j exists iff j % L != 0; E_i carries {k_i, k_{i+1}} where
    defined). Consecutive entities link; transitive closure yields
    ceil(n/L) clusters whose canonical is E_{(i//L)*L} — multi-hop
    union-find with a closed-form oracle."""
    df = spark.range(n_docs).withColumnRenamed("id", "i")
    i = F.col("i")

    def ssn(j):
        return F.format_string(
            "%03d-%02d-%04d", j % 1000, (j * 7) % 100, (j * 13) % 10000
        )

    has_low = (i % chain_len) != 0
    has_high = ((i + 1) % chain_len) != 0
    content = F.concat(
        F.lit("@prefix ex: <http://example.com/ns#> .\n"),
        F.format_string("ex:E%06d", i),
        F.lit(" a ex:Person ;\n  ex:name "),
        F.concat(F.lit('"Person '), i, F.lit(' Name"')),
        F.when(has_low, F.concat(F.lit(' ;\n  ex:ssn "'), ssn(i), F.lit('"')))
        .otherwise(F.lit("")),
        F.when(has_high, F.concat(F.lit(' ;\n  ex:ssn "'), ssn(i + 1), F.lit('"')))
        .otherwise(F.lit("")),
        F.lit(" .\n"),
    )
    return df.select(
        F.format_string("repo%d", i % 16).alias("repo"),
        F.concat(F.lit("data/chain/e"), i, F.lit(".ttl")).alias("path"),
        F.sha2(F.format_string("ccommit%d", i), 256).substr(1, 40).alias("commit"),
        F.lit("turtle").alias("lang"),
        content.alias("content"),
    )


# profile exercising the SHACL-core EXTENSION components (value ranges,
# languageIn, uniqueLang, property pairs) — beyond what the reference's
# two profiles use, but compiled by the same engine (shacl/compile.py)
PRODUCT_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:ProductShape a sh:NodeShape ;
  sh:targetClass ex:Product ;
  sh:property [ sh:path ex:price ;
                sh:minInclusive 0 ; sh:maxExclusive 1000 ] ;
  sh:property [ sh:path ex:label ;
                sh:languageIn ("en" "de") ; sh:uniqueLang true ] ;
  sh:property [ sh:path ex:sku ; sh:equals ex:skuAlias ] ;
  sh:property [ sh:path ex:tag ; sh:disjoint ex:category ] ;
  sh:property [ sh:path ex:salePrice ; sh:lessThanOrEquals ex:price ] .
"""


QUALIFIED_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:OwnerShape a sh:NodeShape ;
  sh:targetClass ex:Owner ;
  sh:property [ sh:path ex:pet ;
                sh:qualifiedValueShape ex:DogShape ;
                sh:qualifiedMinCount 1 ; sh:qualifiedMaxCount 2 ] .

ex:DogShape a sh:NodeShape ;
  sh:property [ sh:path ex:species ; sh:hasValue "dog" ; sh:minCount 1 ] .

ex:BuyerShape a sh:NodeShape ;
  sh:targetSubjectsOf ex:orders ;
  sh:not ex:BannedShape .

ex:BannedShape a sh:NodeShape ;
  sh:property [ sh:path ex:banned ; sh:hasValue "true" ; sh:minCount 1 ] .
"""


def generate_qualified_sources(
    spark: SparkSession, n_docs: int, n_partitions: int | None = None
) -> DataFrame:
    """n synthetic docs exercising the shape-valued components and
    implicit target selectors (QUALIFIED_PROFILE) in closed form by i%6:

    mode 0: owner, pets dog+cat (1 conforming, within [1,2]) — conforms;
    mode 1: owner, one cat pet (0 conforming) — qualifiedMinCount;
    mode 2: owner, three dog pets (3 conforming) — qualifiedMaxCount;
    mode 3: owner with NO pets — qualifiedMinCount (zero-value edge);
    mode 4: orders + banned "true" (targetSubjectsOf focus CONFORMS to
            the negated BannedShape) — sh:not;
    mode 5: orders, not banned — conforms.
    n_violations: [0,1,1,1,1,0][mode]; conforms: mode IN (0, 5).
    """
    df = (
        spark.range(0, n_docs, 1, n_partitions)
        if n_partitions
        else spark.range(n_docs)
    ).withColumnRenamed("id", "i")
    i = F.col("i")
    mode = i % 6
    body = (
        F.when(mode == 0, F.concat(
            F.lit("ex:N"), i, F.lit(" a ex:Owner ; ex:pet ex:A"), i,
            F.lit(", ex:B"), i, F.lit(" .\nex:A"), i,
            F.lit(' ex:species "dog" .\nex:B'), i,
            F.lit(' ex:species "cat" .'),
        ))
        .when(mode == 1, F.concat(
            F.lit("ex:N"), i, F.lit(" a ex:Owner ; ex:pet ex:B"), i,
            F.lit(" .\nex:B"), i, F.lit(' ex:species "cat" .'),
        ))
        .when(mode == 2, F.concat(
            F.lit("ex:N"), i, F.lit(" a ex:Owner ; ex:pet ex:A"), i,
            F.lit(", ex:B"), i, F.lit(", ex:C"), i,
            F.lit(" .\nex:A"), i, F.lit(' ex:species "dog" .\nex:B'), i,
            F.lit(' ex:species "dog" .\nex:C'), i,
            F.lit(' ex:species "dog" .'),
        ))
        .when(mode == 3, F.concat(
            F.lit("ex:N"), i, F.lit(" a ex:Owner ."),
        ))
        .when(mode == 4, F.concat(
            F.lit("ex:N"), i, F.lit(" ex:orders ex:O"), i,
            F.lit(' ; ex:banned "true" .'),
        ))
        .otherwise(F.concat(
            F.lit("ex:N"), i, F.lit(" ex:orders ex:O"), i, F.lit(" ."),
        ))
    )
    content = F.concat(
        F.lit("@prefix ex: <http://example.com/ns#> .\n"), body, F.lit("\n")
    )
    return df.select(
        F.format_string("repo%d", i % 16).alias("repo"),
        F.concat(F.lit("data/owners/own"), i, F.lit(".ttl")).alias("path"),
        F.sha2(F.format_string("commit%d", i), 256).substr(1, 40).alias("commit"),
        F.lit("turtle").alias("lang"),
        content.alias("content"),
    )


# profile exercising PROPERTY-PATH expressions (r5): a 2-hop sequence
# path (employee -> employer -> city) and an inverse path (who manages
# the employee). Beyond the reference's simple-IRI paths, but a Jena
# user's profile CAN declare them (ApplicationConfig.java:44-50 loads
# arbitrary profiles), so the engine compiles them (shacl/compile.py
# _path_value_frames).
PATH_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:EmployeeShape a sh:NodeShape ;
  sh:targetClass ex:Employee ;
  sh:property [ sh:path ( ex:worksFor ex:city ) ;
                sh:minCount 1 ; sh:maxCount 1 ] ;
  sh:property [ sh:path [ sh:inversePath ex:manages ] ;
                sh:maxCount 1 ] ;
  sh:property [ sh:path ( ex:worksFor [ sh:inversePath ex:worksFor ] ) ;
                sh:maxCount 1 ] .
"""


def generate_path_sources(
    spark: SparkSession, n_docs: int, n_partitions: int | None = None
) -> DataFrame:
    """n synthetic employee docs exercising PATH_PROFILE in closed form
    by i%6 (pure Catalyst, same contract as generate_sources). The third
    property shape is the NESTED coworker path worksFor/^worksFor (r5
    wave 3: inverse step inside a sequence) — a lone employee's value
    set is exactly itself, so modes 0-4 stay untouched:

    mode 0: one employer with a city, one manager — conforms;
    mode 1: no employer — sequence-path minCount (zero-value edge);
    mode 2: employer with TWO cities — sequence-path maxCount;
    mode 3: TWO managers — inverse-path maxCount;
    mode 4: two employers sharing the SAME city (diamond) + one manager
            — conforms iff sequence values are counted as a SET;
    mode 5: a SECOND (untyped) employee at the same employer — coworker
            set {W, V} = 2 -> nested-path maxCount.
    n_violations: [0,1,1,1,0,1][mode]; conforms: mode IN (0, 4).
    """
    df = (
        spark.range(0, n_docs, 1, n_partitions)
        if n_partitions
        else spark.range(n_docs)
    ).withColumnRenamed("id", "i")
    i = F.col("i")
    mode = i % 6
    body = (
        F.when(mode == 0, F.concat(
            F.lit("ex:W"), i, F.lit(" a ex:Employee ; ex:worksFor ex:C"), i,
            F.lit(" .\nex:C"), i, F.lit(' ex:city "City A" .\nex:M'), i,
            F.lit(" ex:manages ex:W"), i, F.lit(" ."),
        ))
        .when(mode == 1, F.concat(
            F.lit("ex:W"), i, F.lit(" a ex:Employee .\nex:M"), i,
            F.lit(" ex:manages ex:W"), i, F.lit(" ."),
        ))
        .when(mode == 2, F.concat(
            F.lit("ex:W"), i, F.lit(" a ex:Employee ; ex:worksFor ex:C"), i,
            F.lit(" .\nex:C"), i,
            F.lit(' ex:city "City A", "City B" .\nex:M'), i,
            F.lit(" ex:manages ex:W"), i, F.lit(" ."),
        ))
        .when(mode == 3, F.concat(
            F.lit("ex:W"), i, F.lit(" a ex:Employee ; ex:worksFor ex:C"), i,
            F.lit(" .\nex:C"), i, F.lit(' ex:city "City A" .\nex:M'), i,
            F.lit(" ex:manages ex:W"), i, F.lit(" .\nex:N"), i,
            F.lit(" ex:manages ex:W"), i, F.lit(" ."),
        ))
        .when(mode == 4, F.concat(
            F.lit("ex:W"), i, F.lit(" a ex:Employee ; ex:worksFor ex:C"), i,
            F.lit(", ex:D"), i, F.lit(" .\nex:C"), i,
            F.lit(' ex:city "City A" .\nex:D'), i,
            F.lit(' ex:city "City A" .\nex:M'), i,
            F.lit(" ex:manages ex:W"), i, F.lit(" ."),
        ))
        .otherwise(F.concat(
            F.lit("ex:W"), i, F.lit(" a ex:Employee ; ex:worksFor ex:C"), i,
            F.lit(" .\nex:V"), i, F.lit(" ex:worksFor ex:C"), i,
            F.lit(" .\nex:C"), i, F.lit(' ex:city "City A" .\nex:M'), i,
            F.lit(" ex:manages ex:W"), i, F.lit(" ."),
        ))
    )
    content = F.concat(
        F.lit("@prefix ex: <http://example.com/ns#> .\n"), body, F.lit("\n")
    )
    return df.select(
        F.format_string("repo%d", i % 16).alias("repo"),
        F.concat(F.lit("data/paths/emp"), i, F.lit(".ttl")).alias("path"),
        F.sha2(F.format_string("commit%d", i), 256).substr(1, 40).alias("commit"),
        F.lit("turtle").alias("lang"),
        content.alias("content"),
    )


# r5 wave 2: the remaining path expressions — recursive closure
# (zeroOrMorePath / oneOrMorePath), alternativePath, zeroOrOnePath —
# driver-checked end-to-end on a category-hierarchy corpus.
REC_PATH_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:CategoryShape a sh:NodeShape ;
  sh:targetClass ex:Category ;
  sh:property [ sh:path [ sh:zeroOrMorePath ex:broader ] ;
                sh:maxCount 3 ] ;
  sh:property [ sh:path [ sh:oneOrMorePath ex:broader ] ;
                sh:minCount 1 ] ;
  sh:property [ sh:path [ sh:alternativePath ( ex:label ex:alias ) ] ;
                sh:minCount 1 ] ;
  sh:property [ sh:path [ sh:zeroOrOnePath ex:deprecatedBy ] ;
                sh:maxCount 1 ] .
"""


def generate_recursive_path_sources(
    spark: SparkSession, n_docs: int, n_partitions: int | None = None
) -> DataFrame:
    """n synthetic category docs exercising REC_PATH_PROFILE in closed
    form by i%6 (pure Catalyst, same contract as generate_sources).
    Only ex:K{i} is typed ex:Category, so each doc has ONE focus node:

    mode 0: K->B1->B2 chain, labeled — broader* = {K,B1,B2} (3 <= max 3),
            broader+ nonempty, zero-or-one = {K}: conforms;
    mode 1: K->B1->B2->B3 — broader* = 4 -> maxCount on "broader*";
    mode 2: no broader edge — broader+ = {} -> minCount on "broader+"
            (broader* = {K} stays fine: the zero step);
    mode 3: chain ok but NO label/alias -> minCount on the alternative;
    mode 4: labeled via ex:alias only (alternative satisfied) but
            ex:deprecatedBy present -> zero-or-one values {K, D} = 2 ->
            maxCount on "deprecatedBy?";
    mode 5: 2-cycle K->B1->K, labeled — broader* = {K,B1} (closure of a
            cycle is a finite SET), broader+ = {B1,K} nonempty: conforms.
    n_violations: [0,1,1,1,1,0][mode]; conforms: mode IN (0, 5).
    """
    df = (
        spark.range(0, n_docs, 1, n_partitions)
        if n_partitions
        else spark.range(n_docs)
    ).withColumnRenamed("id", "i")
    i = F.col("i")
    mode = i % 6
    typed = F.concat(F.lit("ex:K"), i, F.lit(" a ex:Category"))
    label = F.concat(F.lit("ex:K"), i, F.lit(' ex:label "cat" .'))
    chain2 = F.concat(
        typed, F.lit(" ; ex:broader ex:B"), i, F.lit("a .\nex:B"), i,
        F.lit("a ex:broader ex:B"), i, F.lit("b .\n"), label,
    )
    body = (
        F.when(mode == 0, chain2)
        .when(mode == 1, F.concat(
            typed, F.lit(" ; ex:broader ex:B"), i, F.lit("a .\nex:B"), i,
            F.lit("a ex:broader ex:B"), i, F.lit("b .\nex:B"), i,
            F.lit("b ex:broader ex:B"), i, F.lit("c .\n"), label,
        ))
        .when(mode == 2, F.concat(typed, F.lit(" .\n"), label))
        .when(mode == 3, F.concat(
            typed, F.lit(" ; ex:broader ex:B"), i, F.lit("a .\nex:B"), i,
            F.lit("a ex:broader ex:B"), i, F.lit("b ."),
        ))
        .when(mode == 4, F.concat(
            typed, F.lit(" ; ex:broader ex:B"), i, F.lit("a ; "),
            F.lit("ex:deprecatedBy ex:D"), i, F.lit(" .\nex:B"), i,
            F.lit("a ex:broader ex:B"), i, F.lit("b .\nex:K"), i,
            F.lit(' ex:alias "alt" .'),
        ))
        .otherwise(F.concat(
            typed, F.lit(" ; ex:broader ex:B"), i, F.lit("a .\nex:B"), i,
            F.lit("a ex:broader ex:K"), i, F.lit(" .\n"), label,
        ))
    )
    content = F.concat(
        F.lit("@prefix ex: <http://example.com/ns#> .\n"), body, F.lit("\n")
    )
    return df.select(
        F.format_string("repo%d", i % 16).alias("repo"),
        F.concat(F.lit("data/recpaths/cat"), i, F.lit(".ttl")).alias("path"),
        F.sha2(F.format_string("commit%d", i), 256).substr(1, 40).alias("commit"),
        F.lit("turtle").alias("lang"),
        content.alias("content"),
    )


# r5 wave 3: SPARQL-based constraints (sh:sparql, spec §5.3) —
# driver-checked end-to-end. The rule is a cross-node join + filter
# ("an employee's manager must be level >= 4") that SHACL core cannot
# express; the SELECT compiles through the engine's own SPARQL compiler
# (sparql.py) with per-document scoping (shacl/compile.py pass 7). The
# sh:prefixes indirection is used deliberately so the driver path also
# certifies prefix inlining (shacl/parse.py).
SPARQL_RULE_PROFILE = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.com/ns#> .

ex:EmployeeShape a sh:NodeShape ;
  sh:targetClass ex:Employee ;
  sh:sparql [
    sh:message "manager below required level" ;
    sh:prefixes ex: ;
    sh:select \"\"\"
      SELECT $this ?value
      WHERE {
        $this ex:managedBy ?value .
        ?value ex:level ?lvl .
        FILTER(?lvl < 4)
      }
    \"\"\" ;
  ] .

ex: sh:declare [ sh:prefix "ex" ; sh:namespace "http://example.com/ns#" ] .
"""


def generate_sparql_rule_sources(
    spark: SparkSession, n_docs: int, n_partitions: int | None = None
) -> DataFrame:
    """n synthetic employee docs exercising SPARQL_RULE_PROFILE in closed
    form by i%4 (pure Catalyst, same contract as generate_sources). Only
    ex:W{i} is typed ex:Employee, so each doc has ONE focus node:

    mode 0: manager level 5 — conforms;
    mode 1: manager level 2 — 1 violation (value = the manager IRI);
    mode 2: TWO managers, levels 1 and 3 — 2 violations (one per
            distinct solution);
    mode 3: manager level 4 — conforms (boundary: 4 is not < 4).
    n_violations: [0,1,2,0][mode]; conforms: mode IN (0, 3).
    """
    df = (
        spark.range(0, n_docs, 1, n_partitions)
        if n_partitions
        else spark.range(n_docs)
    ).withColumnRenamed("id", "i")
    i = F.col("i")
    mode = i % 4
    typed = F.concat(F.lit("ex:W"), i, F.lit(" a ex:Employee"))
    body = (
        F.when(mode == 0, F.concat(
            typed, F.lit(" ; ex:managedBy ex:M"), i, F.lit(" .\nex:M"), i,
            F.lit(" ex:level 5 ."),
        ))
        .when(mode == 1, F.concat(
            typed, F.lit(" ; ex:managedBy ex:M"), i, F.lit(" .\nex:M"), i,
            F.lit(" ex:level 2 ."),
        ))
        .when(mode == 2, F.concat(
            typed, F.lit(" ; ex:managedBy ex:M"), i, F.lit(", ex:N"), i,
            F.lit(" .\nex:M"), i, F.lit(" ex:level 1 .\nex:N"), i,
            F.lit(" ex:level 3 ."),
        ))
        .otherwise(F.concat(
            typed, F.lit(" ; ex:managedBy ex:M"), i, F.lit(" .\nex:M"), i,
            F.lit(" ex:level 4 ."),
        ))
    )
    content = F.concat(
        F.lit("@prefix ex: <http://example.com/ns#> .\n"), body, F.lit("\n")
    )
    return df.select(
        F.format_string("repo%d", i % 16).alias("repo"),
        F.concat(F.lit("data/sparql/emp"), i, F.lit(".ttl")).alias("path"),
        F.sha2(F.format_string("commit%d", i), 256).substr(1, 40).alias("commit"),
        F.lit("turtle").alias("lang"),
        content.alias("content"),
    )


def generate_product_sources(
    spark: SparkSession, n_docs: int, n_partitions: int | None = None
) -> DataFrame:
    """n synthetic product docs violating each EXTENSION constraint class
    in closed form by i%8 (pure Catalyst, same contract as
    generate_sources):

    mode 0: conforming (price 500);  mode 1: price -1 (minInclusive);
    mode 2: price 1000 (maxExclusive, boundary);  mode 3: label @fr
    (languageIn);  mode 4: two @en labels (uniqueLang);  mode 5: sku !=
    skuAlias (equals — 2 violations, one per orphan value);  mode 6:
    tag == category value (disjoint);  mode 7: salePrice 600 > price 500
    (lessThanOrEquals).  n_violations: [0,1,1,1,1,2,1,1][mode].
    """
    df = (
        spark.range(0, n_docs, 1, n_partitions)
        if n_partitions
        else spark.range(n_docs)
    ).withColumnRenamed("id", "i")
    i = F.col("i")
    mode = i % 8
    body = (
        F.when(mode == 0, F.lit(" ;\n  ex:price 500"))
        .when(mode == 1, F.lit(" ;\n  ex:price -1"))
        .when(mode == 2, F.lit(" ;\n  ex:price 1000"))
        .when(mode == 3, F.lit(' ;\n  ex:label "x"@fr'))
        .when(mode == 4, F.lit(' ;\n  ex:label "a"@en, "b"@en'))
        .when(mode == 5, F.lit(' ;\n  ex:sku "A" ;\n  ex:skuAlias "B"'))
        .when(mode == 6, F.lit(' ;\n  ex:tag "news" ;\n  ex:category "news"'))
        .otherwise(F.lit(" ;\n  ex:price 500 ;\n  ex:salePrice 600"))
    )
    content = F.concat(
        F.lit("@prefix ex: <http://example.com/ns#> .\nex:P"), i,
        F.lit(" a ex:Product"), body, F.lit(" .\n"),
    )
    return df.select(
        F.format_string("repo%d", i % 16).alias("repo"),
        F.concat(F.lit("data/products/prod"), i, F.lit(".ttl")).alias("path"),
        F.sha2(F.format_string("commit%d", i), 256).substr(1, 40).alias("commit"),
        F.lit("turtle").alias("lang"),
        content.alias("content"),
    )
