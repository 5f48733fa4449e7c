"""FGDC-CSDGM binding.

Locations re-derived from the reference data map
(gis_metadata/fgdc_metadata_parser.py:37-93 FGDC_TAG_FORMATS,
:99-232 _init_data_map).  Chains encode the reference's alternate locations:
contacts cntperp->cntorgp (fgdc:142-147), dist contact cntperp->cntorgp
(fgdc:61-64), raster resolution planar->geographic (fgdc:207-210).
"""

from __future__ import annotations

from frozen.specs.model import ComplexSpec, DatesSpec, RasterDimsSpec, StandardSpec

_CIT = "idinfo/citation/citeinfo"
_DIST = "distinfo/distrib/cntinfo"
_TIME = "idinfo/timeperd/timeinfo"

FGDC = StandardSpec(
    name="fgdc",
    roots=("metadata",),
    simple={
        "title": (f"{_CIT}/title",),
        "abstract": ("idinfo/descript/abstract",),
        "purpose": ("idinfo/descript/purpose",),
        "supplementary_info": ("idinfo/descript/supplinf",),
        "online_linkages": (f"{_CIT}/onlink",),
        "originators": (f"{_CIT}/origin",),
        "publish_date": (f"{_CIT}/pubdate",),
        "other_citation_info": (f"{_CIT}/othercit",),
        "data_credits": ("idinfo/datacred",),
        "dist_contact_org": (f"{_DIST}/cntperp/cntorg", f"{_DIST}/cntorgp/cntorg"),
        "dist_contact_person": (f"{_DIST}/cntperp/cntper", f"{_DIST}/cntorgp/cntper"),
        "dist_address_type": (f"{_DIST}/cntaddr/addrtype",),
        "dist_address": (f"{_DIST}/cntaddr/address",),
        "dist_city": (f"{_DIST}/cntaddr/city",),
        "dist_state": (f"{_DIST}/cntaddr/state",),
        "dist_postal": (f"{_DIST}/cntaddr/postal",),
        "dist_country": (f"{_DIST}/cntaddr/country",),
        "dist_phone": (f"{_DIST}/cntvoice",),
        "dist_email": (f"{_DIST}/cntemail",),
        "dist_liability": ("distinfo/distliab",),
        "processing_fees": ("distinfo/stdorder/fees",),
        "processing_instrs": ("distinfo/stdorder/ordering",),
        "resource_desc": ("distinfo/resdesc",),
        "tech_prerequisites": ("distinfo/techpreq",),
        "attribute_accuracy": ("dataqual/attracc/attraccr",),
        "dataset_completeness": ("dataqual/complete",),
        "use_constraints": ("idinfo/useconst",),
    },
    keywords={
        "place_keywords": ("idinfo/keywords/place/placekey",),
        "stratum_keywords": ("idinfo/keywords/stratum/stratkey",),
        "temporal_keywords": ("idinfo/keywords/temporal/tempkey",),
        "thematic_keywords": ("idinfo/keywords/theme/themekey",),
    },
    keyword_groups=None,
    complexes={
        "attributes": ComplexSpec(
            root="eainfo/detailed/attr",
            subs={
                "label": ("eainfo/detailed/attr/attrlabl",),
                "aliases": ("eainfo/detailed/attr/attalias",),
                "definition": ("eainfo/detailed/attr/attrdef",),
                "definition_source": ("eainfo/detailed/attr/attrdefs",),
            },
            is_list=True,
        ),
        "contacts": ComplexSpec(
            root="idinfo/ptcontac",
            subs={
                "name": (
                    "idinfo/ptcontac/cntinfo/cntperp/cntper",
                    "idinfo/ptcontac/cntinfo/cntorgp/cntper",
                ),
                "organization": (
                    "idinfo/ptcontac/cntinfo/cntperp/cntorg",
                    "idinfo/ptcontac/cntinfo/cntorgp/cntorg",
                ),
                "position": ("idinfo/ptcontac/cntinfo/cntpos",),
                "email": ("idinfo/ptcontac/cntinfo/cntemail",),
            },
            is_list=True,
        ),
        "digital_forms": ComplexSpec(
            root="distinfo/stdorder/digform",
            subs={
                "name": ("distinfo/stdorder/digform/digtinfo/formname",),
                "content": ("distinfo/stdorder/digform/digtinfo/formcont",),
                "decompression": ("distinfo/stdorder/digform/digtinfo/filedec",),
                "version": ("distinfo/stdorder/digform/digtinfo/formvern",),
                "specification": ("distinfo/stdorder/digform/digtinfo/formspec",),
                "access_desc": ("distinfo/stdorder/digform/digtopt/onlinopt/oncomp",),
                "access_instrs": ("distinfo/stdorder/digform/digtopt/onlinopt/accinstr",),
                "network_resource": (
                    "distinfo/stdorder/digform/digtopt/onlinopt/computer/networka/networkr",
                ),
            },
            is_list=True,
        ),
        "process_steps": ComplexSpec(
            root="dataqual/lineage/procstep",
            subs={
                "description": ("dataqual/lineage/procstep/procdesc",),
                "date": ("dataqual/lineage/procstep/procdate",),
                "sources": ("dataqual/lineage/procstep/srcused",),
            },
            is_list=True,
        ),
        "bounding_box": ComplexSpec(
            root="idinfo/spdom/bounding",
            subs={
                "east": ("idinfo/spdom/bounding/eastbc",),
                "south": ("idinfo/spdom/bounding/southbc",),
                "west": ("idinfo/spdom/bounding/westbc",),
                "north": ("idinfo/spdom/bounding/northbc",),
            },
        ),
        "larger_works": ComplexSpec(
            root=f"{_CIT}/lworkcit/citeinfo",
            subs={
                "title": (f"{_CIT}/lworkcit/citeinfo/title",),
                "edition": (f"{_CIT}/lworkcit/citeinfo/edition",),
                "origin": (f"{_CIT}/lworkcit/citeinfo/origin",),
                "online_linkage": (f"{_CIT}/lworkcit/citeinfo/onlink",),
                "other_citation": (f"{_CIT}/lworkcit/citeinfo/othercit",),
                "publish_date": (f"{_CIT}/lworkcit/citeinfo/pubdate",),
                "publish_place": (f"{_CIT}/lworkcit/citeinfo/pubinfo/pubplace",),
                "publish_info": (f"{_CIT}/lworkcit/citeinfo/pubinfo/publish",),
            },
        ),
        # FGDC raster info is flat paths (no dims pivot); resolutions fall back
        # planar -> geographic (fgdc_metadata_parser.py:198-211).
        "raster_info": ComplexSpec(
            root="spdoinfo/rastinfo",
            subs={
                "dimensions": ("spdoinfo/rastinfo/rasttype",),
                "row_count": ("spdoinfo/rastinfo/rowcount",),
                "column_count": ("spdoinfo/rastinfo/colcount",),
                "vertical_count": ("spdoinfo/rastinfo/vrtcount",),
                "x_resolution": (
                    "spref/horizsys/planar/planci/coordrep/absres",
                    "spref/horizsys/geograph/longres",
                ),
                "y_resolution": (
                    "spref/horizsys/planar/planci/coordrep/ordres",
                    "spref/horizsys/geograph/latres",
                ),
            },
        ),
    },
    dates=DatesSpec(
        root=_TIME,
        single=(f"{_TIME}/sngdate/caldate",),
        multiple=(f"{_TIME}/mdattim/sngdate/caldate",),
        range_begin=(f"{_TIME}/rngdates/begdate",),
        range_end=(f"{_TIME}/rngdates/enddate",),
        write_single=f"{_TIME}/sngdate/caldate",
        write_multiple=f"{_TIME}/mdattim/sngdate/caldate",
        write_range_begin=f"{_TIME}/rngdates/begdate",
        write_range_end=f"{_TIME}/rngdates/enddate",
    ),
)
