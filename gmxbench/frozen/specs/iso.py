"""ISO-19115 / 19139 binding.

Locations re-derived from the reference data map
(gis_metadata/iso_metadata_parser.py:53-171 ISO_TAG_ROOTS /
ISO_TAG_FORMATS, :184-341 _init_data_map).  The 28-alias root table with
self-referential expansion (iso:92-95) is reproduced via ``expand``.
"""

from __future__ import annotations

from frozen.specs.model import (
    ComplexSpec,
    DatesSpec,
    KeywordGroupSpec,
    RasterDimsSpec,
    StandardSpec,
    expand,
)

R = expand({
    "idinfo": "identificationInfo/MD_DataIdentification",
    "idinfo_citation": "{idinfo}/citation/CI_Citation",
    "idinfo_citresp": "{idinfo_citation}/citedResponsibleParty/CI_ResponsibleParty",
    "idinfo_extent": "{idinfo}/extent/EX_Extent",
    "idinfo_keywords": "{idinfo}/descriptiveKeywords/MD_Keywords",
    "idinfo_resp": "{idinfo}/pointOfContact/CI_ResponsibleParty",
    "idinfo_resp_contact": "{idinfo_resp}/contactInfo/CI_Contact",
    "idinfo_aggregate": "{idinfo}/aggregationInfo/MD_AggregateInformation",
    "idinfo_aggregate_citation": "{idinfo_aggregate}/aggregateDataSetName/CI_Citation",
    "idinfo_aggregate_contact": "{idinfo_aggregate_citation}/citedResponsibleParty/CI_ResponsibleParty",
    "distinfo": "distributionInfo/MD_Distribution",
    "distinfo_dist": "{distinfo}/distributor/MD_Distributor",
    "distinfo_proc": "{distinfo_dist}/distributionOrderProcess/MD_StandardOrderProcess",
    "distinfo_resp": "{distinfo_dist}/distributorContact/CI_ResponsibleParty",
    "distinfo_resp_contact": "{distinfo_resp}/contactInfo/CI_Contact",
    "distinfo_rsrc": "{distinfo}/transferOptions/MD_DigitalTransferOptions/onLine/CI_OnlineResource",
    "dataqual": "dataQualityInfo/DQ_DataQuality",
    "dataqual_lineage": "{dataqual}/lineage/LI_Lineage",
    "dataqual_report": "{dataqual}/report",
    "srinfo_grid_rep": "spatialRepresentationInfo/MD_GridSpatialRepresentation",
    "srinfo_grid_dim": "{srinfo_grid_rep}/axisDimensionProperties/MD_Dimension",
    # ISO-19110 feature-catalog locations (separate FC_FeatureCatalogue doc)
    "attr_base": "featureType/FC_FeatureType/carrierOfCharacteristics/FC_FeatureAttribute",
    "attr_def": "{attr_base}/definitionReference/FC_DefinitionReference/definitionSource/FC_DefinitionSource",
    "attr_src": "{attr_def}/source/CI_Citation/citedResponsibleParty/CI_ResponsibleParty",
    # feature-type-level source fallback (iso:209,222-224)
    "ft_def": "featureType/FC_FeatureType/definitionReference/FC_DefinitionReference/definitionSource/FC_DefinitionSource",
    "ft_src": "{ft_def}/source/CI_Citation/citedResponsibleParty/CI_ResponsibleParty",
    # reference into the separate file from MD_Metadata (iso:86-88)
    "attr_citation": "contentInfo/MD_FeatureCatalogueDescription/featureCatalogueCitation",
    "attr_contact": "{attr_citation}/CI_Citation/citedResponsibleParty/CI_ResponsibleParty/contactInfo/CI_Contact",
})

_EXTENT_BBOX = f"{R['idinfo_extent']}/geographicElement/EX_GeographicBoundingBox"
_ADDR = f"{R['distinfo_resp_contact']}/address/CI_Address"
_TEMPORAL = f"{R['idinfo_extent']}/temporalElement/EX_TemporalExtent/extent"
_AGG_CIT = R["idinfo_aggregate_citation"]
_AGG_CONTACT = R["idinfo_aggregate_contact"]

# Attribute sub-chains are shared between the inline tree and remote ISO-19110
# catalog documents (the paths are rooted at featureType/... in both).
ATTRIBUTES_SPEC = ComplexSpec(
    root="featureType/FC_FeatureType/carrierOfCharacteristics",
    subs={
        "label": (f"{R['attr_base']}/memberName/LocalName",),
        "aliases": (f"{R['attr_base']}/aliases/LocalName",),
        "definition": (f"{R['attr_base']}/definition/CharacterString",),
        # 4-deep fallback: attribute-level org -> individual, then
        # feature-type-level org -> individual (iso:218-224)
        "definition_source": (
            f"{R['attr_src']}/organisationName/CharacterString",
            f"{R['attr_src']}/individualName/CharacterString",
            f"{R['ft_src']}/organisationName/CharacterString",
            f"{R['ft_src']}/individualName/CharacterString",
        ),
    },
    is_list=True,
)

ISO = StandardSpec(
    name="iso",
    roots=("MD_Metadata", "MI_Metadata"),
    simple={
        "title": (f"{R['idinfo_citation']}/title/CharacterString",),
        "abstract": (f"{R['idinfo']}/abstract/CharacterString",),
        "purpose": (f"{R['idinfo']}/purpose/CharacterString",),
        "supplementary_info": (f"{R['idinfo']}/supplementalInformation/CharacterString",),
        "online_linkages": (
            f"{R['idinfo_citresp']}/contactInfo/CI_Contact/onlineResource/CI_OnlineResource/linkage/URL",
        ),
        "originators": (f"{R['idinfo_citresp']}/organisationName/CharacterString",),
        "publish_date": (f"{R['idinfo_citation']}/date/CI_Date/date/Date",),
        "other_citation_info": (f"{R['idinfo_citation']}/otherCitationDetails/CharacterString",),
        "data_credits": (f"{R['idinfo']}/credit/CharacterString",),
        "dist_contact_org": (f"{R['distinfo_resp']}/organisationName/CharacterString",),
        "dist_contact_person": (f"{R['distinfo_resp']}/individualName/CharacterString",),
        "dist_address_type": (f"{R['distinfo_resp_contact']}/address/@type",),
        "dist_address": (f"{_ADDR}/deliveryPoint/CharacterString",),
        "dist_city": (f"{_ADDR}/city/CharacterString",),
        "dist_state": (f"{_ADDR}/administrativeArea/CharacterString",),
        "dist_postal": (f"{_ADDR}/postalCode/CharacterString",),
        "dist_country": (
            f"{_ADDR}/country/CharacterString",
            f"{_ADDR}/country/Country",
        ),
        "dist_phone": (f"{R['distinfo_resp_contact']}/phone/CI_Telephone/voice/CharacterString",),
        "dist_email": (f"{_ADDR}/electronicMailAddress/CharacterString",),
        "dist_liability": (
            f"{R['idinfo']}/resourceConstraints/MD_LegalConstraints/otherConstraints/CharacterString",
        ),
        "processing_fees": (f"{R['distinfo_proc']}/fees/CharacterString",),
        "processing_instrs": (f"{R['distinfo_proc']}/orderingInstructions/CharacterString",),
        "resource_desc": (
            f"{R['idinfo']}/resourceSpecificUsage/MD_Usage/specificUsage/CharacterString",
        ),
        "tech_prerequisites": (f"{R['idinfo']}/environmentDescription/CharacterString",),
        "attribute_accuracy": (
            f"{R['dataqual_report']}/DQ_QuantitativeAttributeAccuracy/measureDescription/CharacterString",
        ),
        "dataset_completeness": (
            f"{R['dataqual_report']}/DQ_CompletenessOmission/measureDescription/CharacterString",
        ),
        "use_constraints": (
            f"{R['idinfo']}/resourceConstraints/MD_Constraints/useLimitation/CharacterString",
        ),
    },
    keywords=None,
    keyword_groups={
        kw_prop: KeywordGroupSpec(
            root=f"{R['idinfo']}/descriptiveKeywords",
            type_path="MD_Keywords/type/MD_KeywordTypeCode",
            keyword_path="MD_Keywords/keyword/CharacterString",
            type_value=kw_type,
        )
        for kw_prop, kw_type in (
            ("place_keywords", "place"),
            ("stratum_keywords", "stratum"),
            ("temporal_keywords", "temporal"),
            ("thematic_keywords", "theme"),
        )
    },
    complexes={
        "attributes": ATTRIBUTES_SPEC,
        "contacts": ComplexSpec(
            root=f"{R['idinfo']}/pointOfContact",
            subs={
                "name": (f"{R['idinfo_resp']}/individualName/CharacterString",),
                "organization": (f"{R['idinfo_resp']}/organisationName/CharacterString",),
                "position": (f"{R['idinfo_resp']}/positionName/CharacterString",),
                "email": (
                    f"{R['idinfo_resp']}/contactInfo/CI_Contact/address/CI_Address/electronicMailAddress/CharacterString",
                ),
            },
            is_list=True,
        ),
        # ISO digital forms = distributionFormat structs zip-merged with
        # transferOptions structs (iso:383-440); see transfer_options below.
        "digital_forms": ComplexSpec(
            root=f"{R['distinfo']}/distributionFormat",
            subs={
                "name": (f"{R['distinfo']}/distributionFormat/MD_Format/name/CharacterString",),
                "content": (),  # not representable inline; carried in specification
                "decompression": (
                    f"{R['distinfo']}/distributionFormat/MD_Format/fileDecompressionTechnique/CharacterString",
                ),
                "version": (f"{R['distinfo']}/distributionFormat/MD_Format/version/CharacterString",),
                "specification": (
                    f"{R['distinfo']}/distributionFormat/MD_Format/specification/CharacterString",
                ),
                "access_desc": (),
                "access_instrs": (),
                "network_resource": (),
            },
            is_list=True,
        ),
        "process_steps": ComplexSpec(
            root=f"{R['dataqual_lineage']}/processStep",
            subs={
                "description": (
                    f"{R['dataqual_lineage']}/processStep/LI_ProcessStep/description/CharacterString",
                ),
                "date": (f"{R['dataqual_lineage']}/processStep/LI_ProcessStep/dateTime/DateTime",),
                "sources": (
                    f"{R['dataqual_lineage']}/processStep/LI_ProcessStep/source/LI_Source/sourceCitation/CI_Citation/alternateTitle/CharacterString",
                ),
            },
            is_list=True,
        ),
        "bounding_box": ComplexSpec(
            root=f"{R['idinfo_extent']}/geographicElement",
            subs={
                "east": (f"{_EXTENT_BBOX}/eastBoundLongitude/Decimal",),
                "south": (f"{_EXTENT_BBOX}/southBoundLatitude/Decimal",),
                "west": (f"{_EXTENT_BBOX}/westBoundLongitude/Decimal",),
                "north": (f"{_EXTENT_BBOX}/northBoundLatitude/Decimal",),
            },
        ),
        "larger_works": ComplexSpec(
            root=_AGG_CIT,
            subs={
                "title": (f"{_AGG_CIT}/title/CharacterString",),
                "edition": (f"{_AGG_CIT}/edition/CharacterString",),
                "origin": (f"{_AGG_CONTACT}/individualName/CharacterString",),
                "online_linkage": (
                    f"{_AGG_CONTACT}/contactInfo/CI_Contact/onlineResource/CI_OnlineResource/linkage/URL",
                ),
                "other_citation": (f"{_AGG_CIT}/otherCitationDetails/CharacterString",),
                "publish_date": (f"{_AGG_CIT}/editionDate/Date",),
                "publish_place": (
                    f"{_AGG_CONTACT}/contactInfo/CI_Contact/address/CI_Address/city/CharacterString",
                ),
                "publish_info": (f"{_AGG_CONTACT}/organisationName/CharacterString",),
            },
        ),
        # raster_info is assembled by the dims pivot (raster_dims below)
    },
    dates=DatesSpec(
        root=f"{R['idinfo_extent']}/temporalElement",
        single=(f"{_TEMPORAL}/TimeInstant/timePosition",),
        multiple=(f"{_TEMPORAL}/TimeInstant/timePosition",),
        range_begin=(f"{_TEMPORAL}/TimePeriod/begin/TimeInstant/timePosition",),
        range_end=(f"{_TEMPORAL}/TimePeriod/end/TimeInstant/timePosition",),
        write_single=f"{_TEMPORAL}/TimeInstant/timePosition",
        write_multiple=f"{_TEMPORAL}/TimeInstant/timePosition",
        write_range_begin=f"{_TEMPORAL}/TimePeriod/begin/TimeInstant/timePosition",
        write_range_end=f"{_TEMPORAL}/TimePeriod/end/TimeInstant/timePosition",
    ),
    raster_dims=RasterDimsSpec(
        root=f"{R['srinfo_grid_rep']}/axisDimensionProperties",
        type_chain=(
            f"{R['srinfo_grid_dim']}/dimensionName/MD_DimensionNameTypeCode",
            f"{R['srinfo_grid_dim']}/dimensionName/MD_DimensionNameTypeCode/@codeListValue",
        ),
        size_chain=(f"{R['srinfo_grid_dim']}/dimensionSize/Integer",),
        value_chain=(f"{R['srinfo_grid_dim']}/resolution/Measure",),
        units_chain=(f"{R['srinfo_grid_dim']}/resolution/Measure/@uom",),
        num_dims_chain=(f"{R['srinfo_grid_rep']}/numberOfDimensions/Integer",),
    ),
    transfer_options=ComplexSpec(
        root=f"{R['distinfo']}/transferOptions/MD_DigitalTransferOptions/onLine",
        subs={
            "access_desc": (f"{R['distinfo_rsrc']}/description/CharacterString",),
            "access_instrs": (f"{R['distinfo_rsrc']}/protocol/CharacterString",),
            "network_resource": (f"{R['distinfo_rsrc']}/linkage/URL",),
        },
        is_list=True,
    ),
    iso_content_split=True,
    attr_catalog_url=(
        f"{R['attr_citation']}/@href",
        f"{R['attr_contact']}/onlineResource/CI_OnlineResource/linkage/URL",
    ),
)

# Root element of ISO-19110 feature-catalog documents (iso:80)
CATALOG_ROOT = "FC_FeatureCatalogue"
