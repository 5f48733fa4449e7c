"""ArcGIS-metadata binding.

Locations re-derived from the reference data map
(gis_metadata/arcgis_metadata_parser.py:29-99 ARCGIS_TAG_FORMATS,
:105-245 _init_data_map).  Chains encode the reference's alternates:
online_linkages citRespParty->citOnlineRes (arcgis:50-51), dist_phone
cntPhone->bare voiceNum (arcgis:64-65), use_constraints Consts->LegConsts
(arcgis:85-86), date paths with @date attribute fallbacks (arcgis:156-166).
"""

from __future__ import annotations

from frozen.specs.model import (
    ComplexSpec,
    DatesSpec,
    RasterDimsSpec,
    ReportItemSpec,
    StandardSpec,
)

_CIT = "dataIdInfo/idCitation"
_DIST = "distInfo/distributor/distorCont"
_TEMP = "dataIdInfo/dataExt/tempEle/TempExtent/exTemp"
_AGG = "dataIdInfo/aggrInfo/aggrDSName"

ARCGIS = StandardSpec(
    name="arcgis",
    roots=("metadata", "Metadata"),
    simple={
        "title": (f"{_CIT}/resTitle",),
        "abstract": ("dataIdInfo/idAbs",),
        "purpose": ("dataIdInfo/idPurp",),
        "supplementary_info": ("dataIdInfo/suppInfo",),
        "online_linkages": (
            f"{_CIT}/citRespParty/rpCntInfo/cntOnlineRes/linkage",
            f"{_CIT}/citOnlineRes/linkage",
        ),
        "originators": (f"{_CIT}/citRespParty/rpOrgName",),
        "publish_date": (f"{_CIT}/date/pubDate",),
        "other_citation_info": (f"{_CIT}/otherCitDet",),
        "data_credits": ("dataIdInfo/idCredit",),
        "dist_contact_org": (f"{_DIST}/rpOrgName",),
        "dist_contact_person": (f"{_DIST}/rpIndName",),
        "dist_address_type": (f"{_DIST}/rpCntInfo/cntAddress/@addressType",),
        "dist_address": (f"{_DIST}/rpCntInfo/cntAddress/delPoint",),
        "dist_city": (f"{_DIST}/rpCntInfo/cntAddress/city",),
        "dist_state": (f"{_DIST}/rpCntInfo/cntAddress/adminArea",),
        "dist_postal": (f"{_DIST}/rpCntInfo/cntAddress/postCode",),
        "dist_country": (f"{_DIST}/rpCntInfo/cntAddress/country",),
        "dist_phone": (
            f"{_DIST}/rpCntInfo/cntPhone/voiceNum",
            f"{_DIST}/rpCntInfo/voiceNum",
        ),
        "dist_email": (f"{_DIST}/rpCntInfo/cntAddress/eMailAdd",),
        "dist_liability": ("dataIdInfo/resConst/LegConsts/othConsts",),
        "processing_fees": ("distInfo/distributor/distorOrdPrc/resFees",),
        "processing_instrs": ("distInfo/distributor/distorOrdPrc/ordInstr",),
        "resource_desc": ("dataIdInfo/idSpecUse/specUsage",),
        "tech_prerequisites": ("dataIdInfo/envirDesc",),
        # attribute_accuracy / dataset_completeness come from report_items
        "use_constraints": (
            "dataIdInfo/resConst/Consts/useLimit",
            "dataIdInfo/resConst/LegConsts/useLimit",
        ),
    },
    keywords={
        "place_keywords": ("dataIdInfo/placeKeys/keyword",),
        "stratum_keywords": ("dataIdInfo/stratKeys/keyword",),
        "temporal_keywords": ("dataIdInfo/tempKeys/keyword",),
        "thematic_keywords": ("dataIdInfo/themeKeys/keyword",),
    },
    keyword_groups=None,
    extra_keywords={
        # ArcGIS-only keyword kinds (arcgis:93-98)
        "discipline_keywords": ("dataIdInfo/discKeys/keyword",),
        "other_keywords": ("dataIdInfo/otherKeys/keyword",),
        "product_keywords": ("dataIdInfo/productKeys/keyword",),
        "search_keywords": ("dataIdInfo/searchKeys/keyword",),
        "topic_category_keywords": ("dataIdInfo/subTopicCatKeys/keyword",),
    },
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
            root="dataIdInfo/idPoC",
            subs={
                "name": ("dataIdInfo/idPoC/rpIndName",),
                "organization": ("dataIdInfo/idPoC/rpOrgName",),
                "position": ("dataIdInfo/idPoC/rpPosName",),
                "email": ("dataIdInfo/idPoC/rpCntInfo/cntAddress/eMailAdd",),
            },
            is_list=True,
        ),
        # ArcGIS digital forms = distFormat structs zip-merged with
        # distTranOps/onLineSrc structs (arcgis:247-277).
        "digital_forms": ComplexSpec(
            root="distInfo/distFormat",
            subs={
                "name": ("distInfo/distFormat/formatName",),
                "content": ("distInfo/distFormat/formatInfo",),
                "decompression": ("distInfo/distFormat/fileDecmTech",),
                "version": ("distInfo/distFormat/formatVer",),
                "specification": ("distInfo/distFormat/formatSpec",),
                "access_desc": (),
                "access_instrs": (),
                "network_resource": (),
            },
            is_list=True,
        ),
        "process_steps": ComplexSpec(
            root="dqInfo/dataLineage/prcStep",
            subs={
                "description": ("dqInfo/dataLineage/prcStep/stepDesc",),
                "date": ("dqInfo/dataLineage/prcStep/stepDateTm",),
                "sources": ("dqInfo/dataLineage/prcStep/stepSrc/srcDesc",),
            },
            is_list=True,
        ),
        "bounding_box": ComplexSpec(
            root="dataIdInfo/dataExt/geoEle",
            subs={
                "east": ("dataIdInfo/dataExt/geoEle/GeoBndBox/eastBL",),
                "south": ("dataIdInfo/dataExt/geoEle/GeoBndBox/southBL",),
                "west": ("dataIdInfo/dataExt/geoEle/GeoBndBox/westBL",),
                "north": ("dataIdInfo/dataExt/geoEle/GeoBndBox/northBL",),
            },
        ),
        "larger_works": ComplexSpec(
            root=_AGG,
            subs={
                "title": (f"{_AGG}/resTitle",),
                "edition": (f"{_AGG}/resEd",),
                "origin": (f"{_AGG}/citRespParty/rpIndName",),
                "online_linkage": (f"{_AGG}/citRespParty/rpCntInfo/cntOnlineRes/linkage",),
                "other_citation": (f"{_AGG}/otherCitDet",),
                "publish_date": (f"{_AGG}/date/pubDate",),
                "publish_place": (f"{_AGG}/citRespParty/rpCntInfo/cntAddress/city",),
                "publish_info": (f"{_AGG}/citRespParty/rpOrgName",),
            },
        ),
    },
    dates=DatesSpec(
        root="dataIdInfo/dataExt/tempEle",
        single=(f"{_TEMP}/TM_Instant/tmPosition", f"{_TEMP}/TM_Instant/tmPosition/@date"),
        multiple=(f"{_TEMP}/TM_Instant/tmPosition", f"{_TEMP}/TM_Instant/tmPosition/@date"),
        range_begin=(f"{_TEMP}/TM_Period/tmBegin", f"{_TEMP}/TM_Period/tmBegin/@date"),
        range_end=(f"{_TEMP}/TM_Period/tmEnd", f"{_TEMP}/TM_Period/tmEnd/@date"),
        write_single=f"{_TEMP}/TM_Instant/tmPosition",
        write_multiple=f"{_TEMP}/TM_Instant/tmPosition",
        write_range_begin=f"{_TEMP}/TM_Period/tmBegin",
        write_range_end=f"{_TEMP}/TM_Period/tmEnd",
    ),
    report_items={
        "attribute_accuracy": ReportItemSpec(
            root="dqInfo/report", attr="type", attr_value="DQQuanAttAcc", child="measDesc"
        ),
        "dataset_completeness": ReportItemSpec(
            root="dqInfo/report", attr="type", attr_value="DQCompOm", child="measDesc"
        ),
    },
    raster_dims=RasterDimsSpec(
        root="spatRepInfo/GridSpatRep/axisDimension",
        type_chain=("spatRepInfo/GridSpatRep/axisDimension/@type",),
        size_chain=("spatRepInfo/GridSpatRep/axisDimension/dimSize",),
        value_chain=("spatRepInfo/GridSpatRep/axisDimension/dimResol/value",),
        units_chain=("spatRepInfo/GridSpatRep/axisDimension/dimResol/value/@uom",),
        num_dims_chain=("spatRepInfo/GridSpatRep/numDims",),
    ),
    transfer_options=ComplexSpec(
        root="distInfo/distTranOps/onLineSrc",
        subs={
            "access_desc": ("distInfo/distTranOps/onLineSrc/orDesc",),
            "access_instrs": ("distInfo/distTranOps/onLineSrc/protocol",),
            "network_resource": ("distInfo/distTranOps/onLineSrc/linkage",),
        },
        is_list=True,
    ),
    iso_content_split=False,
)
