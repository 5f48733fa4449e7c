"""Declarative extraction-spec model.

A :class:`StandardSpec` is the logical schema + binding for one metadata
standard: for every supported property it names the document locations
(path fallback chains) the value is read from and written to.  This is the
columnar re-derivation of the reference's "data map" concept
(``gis_metadata/metadata_parser.py:251-256``): the reference
binds ``{property -> XPath | ParserProperty}`` per parser instance; we bind
``{property -> PathChain | ComplexSpec | ...}`` once per standard at driver
time and compile it into a single vectorized extraction pass.

Path syntax: ``a/b/c`` (element text) or ``a/b/c/@attr`` (attribute value).
A *chain* is an ordered tuple of paths — the first location with a non-empty
value wins (the reference's leading-underscore alternate-location rule,
``utils.py:354-359`` / ``README.md:124-128``).  The first path in a chain is
the *primary* location and is the only one written on serialization
(secondary-location erasure, ``utils.py:390-391``).
"""

from __future__ import annotations

from dataclasses import dataclass, field


# The simple (string) properties every standard binds
# (gis_metadata/utils.py:143-152).

SIMPLE_PROPS = (
    "title", "abstract", "purpose", "other_citation_info", "supplementary_info",
    "online_linkages", "originators", "publish_date", "data_credits",
    "dist_contact_org", "dist_contact_person", "dist_email", "dist_phone",
    "dist_address", "dist_address_type", "dist_city", "dist_state",
    "dist_postal", "dist_country", "dist_liability", "processing_fees",
    "processing_instrs", "resource_desc", "tech_prerequisites",
    "attribute_accuracy", "dataset_completeness", "use_constraints",
)

# Complex-structure sub-property orders (mirrors COMPLEX_DEFINITIONS,
# utils.py:76-139; field order preserved for struct schemas).

COMPLEX_FIELDS = {
    "attributes": ("label", "aliases", "definition", "definition_source"),
    "bounding_box": ("east", "south", "west", "north"),
    "contacts": ("name", "email", "organization", "position"),
    "digital_forms": (
        "name", "content", "decompression", "version", "specification",
        "access_desc", "access_instrs", "network_resource",
    ),
    "larger_works": (
        "title", "edition", "origin", "online_linkage", "other_citation",
        "publish_date", "publish_place", "publish_info",
    ),
    "process_steps": ("description", "date", "sources"),
    "raster_info": (
        "dimensions", "row_count", "column_count", "vertical_count",
        "x_resolution", "y_resolution",
    ),
}

# Sub-properties that stay multi-valued (lists) inside their struct
# (_COMPLEX_WITH_MULTI, utils.py:43-47).
MULTI_SUBS = {
    "dates": {"values"},
    "larger_works": {"origin"},
    "process_steps": {"sources"},
}

# Sentinel separating digital-form content appended to ISO specification text
# (ISO_DIGITAL_FORMS_DELIM, iso_metadata_parser.py:41).
ISO_CONTENT_DELIM = "@------------------------------@"


Chain = tuple[str, ...]


@dataclass(frozen=True)
class ComplexSpec:
    """A struct (``is_list=False``) or list-of-struct property binding.

    ``root``: repeating/owning element path.  ``subs``: per-field chains —
    absolute paths; when a path starts with ``root`` it is resolved relative
    to each repeated element (list mode), otherwise against the whole tree
    (the reference's get_xpath_branch behavior, utils.py:179-186).
    """

    root: str
    subs: dict[str, Chain]
    is_list: bool = False


@dataclass(frozen=True)
class DatesSpec:
    """Paths feeding the date-type inference cascade (parse_dates, utils.py:296-329)."""

    root: str
    single: Chain
    multiple: Chain
    range_begin: Chain
    range_end: Chain
    # serializer roots, per-type (standard-specific nesting rules)
    write_single: str = ""
    write_multiple: str = ""
    write_range_begin: str = ""
    write_range_end: str = ""


@dataclass(frozen=True)
class KeywordGroupSpec:
    """ISO-style shared keyword element filtered by sibling type code
    (IsoParser._parse_keywords, iso_metadata_parser.py:442-459)."""

    root: str           # repeating descriptiveKeywords group
    type_path: str      # type code path inside the group
    keyword_path: str   # keyword text path inside the group
    type_value: str     # place | stratum | temporal | theme


@dataclass(frozen=True)
class ReportItemSpec:
    """ArcGIS report filtered on a type attribute
    (ArcGISParser._parse_report_item, arcgis_metadata_parser.py:279-294)."""

    root: str
    attr: str
    attr_value: str
    child: str


@dataclass(frozen=True)
class RasterDimsSpec:
    """N axis-dimension rows pivoted into one raster_info struct
    (iso_metadata_parser.py:461-491 / arcgis_metadata_parser.py:296-326)."""

    root: str
    type_chain: Chain
    size_chain: Chain
    value_chain: Chain
    units_chain: Chain
    num_dims_chain: Chain


@dataclass(frozen=True)
class CallableProp:
    """X1 callable property binding — the engine-side ParserProperty
    (reference utils.py:713-761, used e.g. fgdc_metadata_parser.py:215-229):
    a property whose parse/update logic is arbitrary code, not a declarative
    chain.

    ``parse_fn(tree, spec) -> value`` runs inside the extraction kernel after
    the declarative phases (so it may post-process built-in locations).
    ``write_fn(root, value, spec) -> None`` runs at the end of every write
    pass (regeneration AND in-place update); like a reference setter it OWNS
    removal of its managed locations before inserting — the engine does not
    know them.  Both callables ride the Arrow ``mapInPandas`` closure to
    executors, so custom properties are fully distributed."""

    parse_fn: object
    write_fn: object | None = None


@dataclass(frozen=True)
class StandardSpec:
    name: str
    roots: tuple[str, ...]
    simple: dict[str, Chain]                      # prop -> path chain
    keywords: dict[str, Chain] | None             # plain keyword lists (fgdc/arcgis)
    keyword_groups: dict[str, KeywordGroupSpec] | None  # typed groups (iso)
    complexes: dict[str, ComplexSpec]             # struct + list props
    dates: DatesSpec
    report_items: dict[str, ReportItemSpec] = field(default_factory=dict)
    raster_dims: RasterDimsSpec | None = None     # pivot mode (iso/arcgis)
    # ISO digital-forms zip-merge: formats list + transfer-options list
    transfer_options: ComplexSpec | None = None
    iso_content_split: bool = False               # split spec/content on sentinel
    attr_catalog_url: Chain = ()                  # remote ISO-19110 catalog ref
    extra_keywords: dict[str, Chain] = field(default_factory=dict)  # arcgis-only kinds
    callables: dict[str, CallableProp] = field(default_factory=dict)  # X1 bindings


def expand(aliases: dict[str, str]) -> dict[str, str]:
    """Expand ``{alias}`` placeholders within an alias table (self-referential,
    two passes — mirrors the reference's double format_xpaths application,
    iso_metadata_parser.py:92-95)."""

    out = dict(aliases)
    for _ in range(2):
        out = {k: v.format(**out) for k, v in out.items()}
    return out
