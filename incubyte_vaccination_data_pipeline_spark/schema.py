"""Canonical schema and the column-mapping layers.

Mirrors the reference's mapping surface (behavioral parity with
``src/utils/constants.py:6-68`` of intshivam/incubyte-vaccination-data-pipeline):

1. source-dialect -> canonical (``COLUMN_MAP``): three CSV dialects
   (India / Australia / USA) plus shared synonyms collapse onto one
   canonical name set; when several source columns map to the same
   canonical name they are coalesced first-non-null left-to-right.
2. canonical -> warehouse (``WAREHOUSE_COLUMN_MAP``): short warehouse
   names (``Customer_Id -> Cust_I`` etc.), matching
   ``constants.py:57-68``.
3. warehouse name normalization: upper-case, spaces/dashes -> ``_``
   (parity with ``snowflake_connector.py:203``).

The warehouse table layout follows
``scripts/ddl/create_intermediate_table.sql:7-41``: strings + DATEs +
an ingest timestamp + a lineage column.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- layer 1: source dialect -> canonical (constants.py:6-36) -------------
# Insertion order matters for synonym coalescing: first non-null wins
# left-to-right in the order sources appear in the file's column list.
COLUMN_MAP: dict[str, str] = {
    # India / USA dialect
    "ID": "Customer_Id",
    "Name": "Customer_Name",
    "VaccinationType": "Vaccination_Id",
    "VaccinationDate": "Open_Date",
    # Australia dialect
    "Unique ID": "Customer_Id",
    "Patient Name": "Customer_Name",
    "Vaccine Type": "Vaccination_Id",
    "Date of Birth": "DOB",
    "Date of Vaccination": "Open_Date",
    # direct canonical passthrough
    "DOB": "DOB",
    # shared synonyms
    "Doctor Name": "Dr_Name",
    "Doctor": "Dr_Name",
    "State/Province": "State",
    "State": "State",
    "Country Name": "Country",
    "Country": "Country",
    "Consultation Date": "Last_Consulted_Date",
    "Last Consulted Date": "Last_Consulted_Date",
    "Postal Code": "Post_Code",
    "Post Code": "Post_Code",
}

MANDATORY_COLUMNS = ["Customer_Name", "Customer_Id", "Open_Date"]

OPTIONAL_COLUMNS = [
    "Last_Consulted_Date",
    "Vaccination_Id",
    "Dr_Name",
    "State",
    "Country",
    "Post_Code",
    "DOB",
]

MANDATORY_DATE_COLUMNS = ["Open_Date"]
OPTIONAL_DATE_COLUMNS = ["Last_Consulted_Date", "DOB"]

STRING_COLUMNS = [
    "Customer_Name",
    "Customer_Id",
    "Vaccination_Id",
    "Dr_Name",
    "State",
    "Country",
    "Post_Code",
    "Is_Active",
]

# --- layer 2: canonical -> warehouse (constants.py:57-68) -----------------
WAREHOUSE_COLUMN_MAP: dict[str, str] = {
    "Customer_Name": "Name",
    "Customer_Id": "Cust_I",
    "Open_Date": "Open_Dt",
    "Last_Consulted_Date": "Consul_Dt",
    "Vaccination_Id": "VAC_ID",
    "Dr_Name": "DR_Name",
    "State": "State",
    "Country": "Country",
    "DOB": "DOB",
    "Is_Active": "FLAG",
}

# Expected pipe-framed header record (data_validator.py:34)
EXPECTED_PIPE_HEADER = (
    "|H|Customer_Name|Customer_Id|Open_Date|Last_Consulted_Date"
    "|Vaccination_Id|Dr_Name|State|Country|DOB|Is_Active"
)


def normalize_warehouse_name(name: str) -> str:
    """Warehouse name hygiene: upper, spaces/dashes -> underscores,
    quotes stripped (snowflake_connector.py:203,276 parity)."""
    return name.replace('"', "").upper().replace(" ", "_").replace("-", "_")


# --- warehouse table schema (create_intermediate_table.sql:7-41) ----------
WAREHOUSE_SCHEMA = T.StructType(
    [
        T.StructField("CUST_I", T.StringType(), False),
        T.StructField("NAME", T.StringType(), False),
        T.StructField("OPEN_DT", T.DateType(), False),
        T.StructField("CONSUL_DT", T.DateType(), True),
        T.StructField("VAC_ID", T.StringType(), True),
        T.StructField("DR_NAME", T.StringType(), True),
        T.StructField("STATE", T.StringType(), True),
        T.StructField("COUNTRY", T.StringType(), True),
        T.StructField("DOB", T.DateType(), True),
        T.StructField("FLAG", T.StringType(), True),
        T.StructField("LOAD_DATE", T.TimestampType(), True),
        T.StructField("SOURCE_FILE", T.StringType(), True),
    ]
)
