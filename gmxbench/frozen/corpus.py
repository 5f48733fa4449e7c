"""Deterministic metadata records: every field is a pure arithmetic function
of the document id (mod/mult/concat only), so the DuckDB oracles can
recompute the expected answers without parsing XML.  All coordinates lie on
the half-degree lattice, exactly representable in IEEE doubles; one document
in 97 has a whole-world bounding box.  ISO documents with ``id % 5 == 0``
(and not ``% 25 == 0``, whose reference is broken) point at a feature
catalog carried as a sibling corpus row.
"""

from __future__ import annotations

from frozen.serialize import serialize_catalog, serialize_sections
from frozen.specs import SIMPLE_PROPS

WHOLE_WORLD_MOD = 97          # doc_id % 97 == 0 -> whole-world bbox (skew)
RASTER_MOD = 5                # doc_id % 5 == 1  -> raster info + tile media ref
CATALOG_MOD = 5               # iso docs, % 5 == 0 -> remote catalog
BROKEN_CATALOG_MOD = 25       # iso docs, % 25 == 0 -> broken catalog URL
TILE_LEVEL = 4                # media tile refs use this grid level

STANDARDS = ("fgdc", "iso", "arcgis")


def empty_record() -> dict:
    rec = {p: "" for p in SIMPLE_PROPS}
    rec.update({
        "place_keywords": [], "stratum_keywords": [], "temporal_keywords": [],
        "thematic_keywords": [],
        # ArcGIS-only keyword kinds (arcgis_metadata_parser.py:93-98);
        # empty lists for the other standards
        "discipline_keywords": [], "other_keywords": [], "product_keywords": [],
        "search_keywords": [], "topic_category_keywords": [],
        "bounding_box": None, "dates": None, "larger_works": None,
        "raster_info": None,
        "attributes": [], "attributes_inline": [], "contacts": [],
        "digital_forms": [], "process_steps": [],
        "attr_catalog_url": "",
    })
    return rec


def date_str(n: int) -> str:
    y, m, d = 2000 + n % 22, 1 + n % 12, 1 + n % 28
    return f"{y:04d}-{m:02d}-{d:02d}"


def bbox_halfdeg(doc_id: int) -> tuple[int, int, int, int]:
    """(west, south, east, north) in half-degree units."""

    if doc_id % WHOLE_WORLD_MOD == 0:
        return (-360, -180, 360, 180)
    west = -360 + (doc_id * 37) % 680
    south = -180 + (doc_id * 53) % 330
    east = min(west + 1 + (doc_id * 13) % 40, 360)
    north = min(south + 1 + (doc_id * 29) % 30, 180)
    return (west, south, east, north)


def _fmt_half(h: int) -> str:
    return f"{h / 2:.1f}"


def standard_of(doc_id: int) -> str:
    return STANDARDS[doc_id % 3]


def catalog_kind(doc_id: int) -> str:
    """'' | 'ok' | 'broken' — which catalog reference an ISO doc carries."""

    if standard_of(doc_id) != "iso":
        return ""
    if doc_id % BROKEN_CATALOG_MOD == 0:
        return "broken"
    if doc_id % CATALOG_MOD == 0:
        return "ok"
    return ""


def tile_xy(doc_id: int) -> tuple[int, int]:
    """Grid tile of the bbox center at TILE_LEVEL (quarter-degree-exact center)."""

    w, s, e, n = bbox_halfdeg(doc_id)
    cx = (w + e) / 4.0  # degrees; quarter-degree lattice, exact
    cy = (s + n) / 4.0
    nx = 1 << TILE_LEVEL
    tx = min(int((cx + 180.0) / 360.0 * nx), nx - 1)
    ty = min(int((cy + 90.0) / 180.0 * nx), nx - 1)
    return tx, ty


def make_record(doc_id: int) -> dict:
    """The golden wide record for a doc id (pre-extraction ground truth)."""

    i = doc_id
    rec = empty_record()
    std = standard_of(i)

    rec.update({
        "title": f"Dataset {i}",
        "abstract": f"Abstract for dataset {i}",
        "purpose": f"Purpose {i % 13}",
        "supplementary_info": f"Supplementary {i % 7}",
        "other_citation_info": f"Citation note {i % 5}",
        "online_linkages": f"https://data.example.org/records/{i}",
        "originators": f"Originator {i % 17}",
        "publish_date": date_str(i),
        "data_credits": f"Credit {i % 5}",
        "dist_contact_org": f"DistOrg {i % 11}",
        "dist_contact_person": f"DistPerson {i % 19}",
        "dist_email": f"dist{i % 50}@example.org",
        "dist_phone": f"555-{1000 + i % 9000}",
        "dist_address": f"{100 + i % 900} Main St",
        "dist_address_type": "mailing" if i % 2 == 0 else "physical",
        "dist_city": f"City {i % 29}",
        "dist_state": f"State {i % 50}",
        "dist_postal": str(10000 + i % 89999),
        "dist_country": "USA",
        "dist_liability": f"Liability {i % 3}",
        "processing_fees": str(i % 100),
        "processing_instrs": f"Order instructions {i % 4}",
        "resource_desc": f"Resource {i % 21}",
        "tech_prerequisites": f"Prereq {i % 6}",
        "attribute_accuracy": f"Accuracy statement {i % 9}",
        "dataset_completeness": f"Completeness {i % 8}",
        "use_constraints": f"Use constraint {i % 3}",
        "place_keywords": [f"Place {i % 7}", f"Region {i % 5}"],
        "thematic_keywords": [f"Theme {i % 11}"],
        "stratum_keywords": [f"Stratum {i % 4}"] if i % 2 == 0 else [],
        "temporal_keywords": [f"Temporal {i % 6}"],
    })
    if std == "arcgis":
        rec.update({
            "discipline_keywords": [f"Discipline {i % 4}"],
            "other_keywords": [],
            "product_keywords": [f"Product {i % 6}"],
            "search_keywords": [f"Search {i % 9}", f"Search {i % 3}"],
            "topic_category_keywords": [f"Topic {i % 5}"],
        })

    w, s, e, n = bbox_halfdeg(i)
    rec["bounding_box"] = {
        "east": _fmt_half(e), "south": _fmt_half(s),
        "west": _fmt_half(w), "north": _fmt_half(n),
    }

    dt = i % 4
    if dt == 0:
        rec["dates"] = {"type": "single", "values": [date_str(i)]}
    elif dt == 1:
        rec["dates"] = {"type": "multiple",
                        "values": [date_str(i), date_str(i + 500000), date_str(i + 1000000)]}
    elif dt == 2:
        rec["dates"] = {"type": "range", "values": [date_str(i), date_str(i + 500000)]}

    n_contacts = 1 + i % 3
    rec["contacts"] = [
        {
            "name": f"Person {i * 4 + k}",
            "email": f"person{i * 4 + k}@example.org",
            "organization": f"ContactOrg {(i + k) % 17}",
            "position": f"Position {(i + k) % 7}",
        }
        for k in range(n_contacts)
    ]

    kind = catalog_kind(i)
    rec["attributes"] = [
        {
            "label": f"Attr {i * 2 + k}",
            # ISO inline aliases equal the label (the parse-time default would
            # materialize them anyway, iso:351-353 — keeping them explicit makes
            # extract->serialize byte-stable; the default RULE is exercised by
            # the catalog path, whose attrs carry empty aliases)
            "aliases": f"Attr {i * 2 + k}" if std == "iso" else f"Alias {i * 2 + k}",
            "definition": f"Definition {i * 2 + k}",
            "definition_source": f"Source {(i + k) % 13}",
        }
        for k in range(2)
    ]
    if kind == "ok":
        rec["attr_catalog_url"] = f"catalog://{i}"
    elif kind == "broken":
        rec["attr_catalog_url"] = f"catalog://missing/{i}"

    n_forms = 1 + i % 2
    rec["digital_forms"] = [
        {
            "name": f"Format {i}-{k}",
            "content": f"Content {i}-{k}",
            "decompression": "zip" if k == 0 else "",
            "version": f"v{1 + (i + k) % 5}",
            "specification": f"Spec {i}-{k}",
            "access_desc": f"Download {k}",
            "access_instrs": f"Instr {(i + k) % 3}",
            "network_resource": f"https://dl.example.org/{i}/{k}",
        }
        for k in range(n_forms)
    ]

    rec["process_steps"] = [
        {
            "description": f"Process step {i}-{k}",
            "date": date_str(i + k),
            "sources": [f"Src {i}-{k}-0", f"Src {i}-{k}-1"],
        }
        for k in range(1 + i % 2)
    ]

    if i % 2 == 1:
        rec["larger_works"] = {
            "title": f"Larger work {i % 23}",
            "edition": f"Ed {i % 3}",
            "origin": [f"LW Author {i % 13}"],
            "online_linkage": f"https://lw.example.org/{i % 23}",
            "other_citation": f"LW cite {i % 6}",
            "publish_date": date_str(i + 7),
            "publish_place": f"LW City {i % 15}",
            "publish_info": f"LW Pub {i % 9}",
        }

    if i % RASTER_MOD == 1:
        vertical = i % 10 == 1
        rec["raster_info"] = {
            "dimensions": "3" if vertical else "2",
            "row_count": str(100 + i % 900),
            "column_count": str(100 + i % 800),
            "vertical_count": str(1 + i % 50) if vertical else "",
            "x_resolution": f"{1 + i % 30} meters",
            "y_resolution": f"{1 + i % 25} meters",
        }

    return rec


def catalog_attributes(doc_id: int) -> list[dict]:
    """Attribute structs carried by the remote catalog of an ISO doc."""

    return [
        {
            "label": f"CatAttr {doc_id * 2 + k}",
            "aliases": "",
            "definition": f"CatDef {doc_id * 2 + k}",
            "definition_source": f"CatSource {(doc_id + k) % 13}",
        }
        for k in range(2)
    ]


def doc_id_str(doc_id: int) -> str:
    return f"doc-{doc_id:08d}"


def cat_id_str(doc_id: int) -> str:
    return f"cat-{doc_id:08d}"


def make_catalog_spans(doc_id: int) -> list[tuple[str, str, str, int]]:
    """Catalog sibling row: one text span with the FC_FeatureCatalogue XML and
    one media span carrying its own URL (the join key)."""

    xml = serialize_catalog(catalog_attributes(doc_id))
    return [("text", xml, "", 0), ("media", "", f"catalog://{doc_id}", len(xml))]
