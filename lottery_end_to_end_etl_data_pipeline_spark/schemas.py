"""Fixed Silver schemas + gold output shapes.

Mirrors the reference's enforced Silver contract
(`/root/reference/src/loteria/transformer/transformer.py:151-230`,
SURVEY §1.2): pandas `int64`-with-default → non-null LongType, nullable
`Int64` → nullable LongType, `float64` default 0.0 → DoubleType,
pandas `string` → StringType, `datetime64` from `%d/%m/%Y` → DateType.

Money stays DoubleType (not Decimal) intentionally — the reference
stores `monto` as float64 (`transformer.py:170`); changing the type
would change gold aggregate results.
"""

from __future__ import annotations

from pyspark.sql import types as T

# premios: prize-level fact table (transformer.py:151-175).
PREMIOS_SCHEMA = T.StructType(
    [
        T.StructField("numero_sorteo", T.LongType(), nullable=False),
        T.StructField("numero_premiado", T.LongType(), nullable=True),
        T.StructField("letras", T.StringType(), nullable=True),
        T.StructField("monto", T.DoubleType(), nullable=False),
        T.StructField("vendedor", T.StringType(), nullable=True),
        T.StructField("ciudad", T.StringType(), nullable=True),
        T.StructField("departamento", T.StringType(), nullable=True),
    ]
)

# sorteos: draw-level dimension, 1 row per draw (transformer.py:179-230).
SORTEOS_SCHEMA = T.StructType(
    [
        T.StructField("numero_sorteo", T.LongType(), nullable=False),
        T.StructField("tipo_sorteo", T.StringType(), nullable=True),
        T.StructField("fecha_sorteo", T.DateType(), nullable=True),
        T.StructField("fecha_caducidad", T.DateType(), nullable=True),
        T.StructField("primer_premio", T.LongType(), nullable=True),
        T.StructField("segundo_premio", T.LongType(), nullable=True),
        T.StructField("tercer_premio", T.LongType(), nullable=True),
        T.StructField("reintegro_primer_premio", T.LongType(), nullable=True),
        T.StructField("reintegro_segundo_premio", T.LongType(), nullable=True),
        T.StructField("reintegro_tercer_premio", T.LongType(), nullable=True),
    ]
)

# Partition columns appended at the Silver write boundary
# (transformer.py:225-230 derives year; sorteo comes from the draw id),
# typed as partition inference types the `year=`/`sorteo=` directory
# names: int for every year and for draw ids below 2^31. Reading silver
# with these fields supplied needs no schema-inference job.
SILVER_PARTITION_FIELDS = [
    T.StructField("year", T.IntegerType(), nullable=True),
    T.StructField("sorteo", T.IntegerType(), nullable=True),
]

PREMIOS_COLUMNS = [f.name for f in PREMIOS_SCHEMA.fields]
SORTEOS_COLUMNS = [f.name for f in SORTEOS_SCHEMA.fields]

# The 22 departments of Guatemala — the reference's planned
# Great-Expectations membership check (roadmap.md:696-697, SURVEY §5.4).
GUATEMALA_DEPARTMENTS = [
    "ALTA VERAPAZ",
    "BAJA VERAPAZ",
    "CHIMALTENANGO",
    "CHIQUIMULA",
    "EL PROGRESO",
    "ESCUINTLA",
    "GUATEMALA",
    "HUEHUETENANGO",
    "IZABAL",
    "JALAPA",
    "JUTIAPA",
    "PETEN",
    "QUETZALTENANGO",
    "QUICHE",
    "RETALHULEU",
    "SACATEPEQUEZ",
    "SAN MARCOS",
    "SANTA ROSA",
    "SOLOLA",
    "SUCHITEPEQUEZ",
    "TOTONICAPAN",
    "ZACAPA",
]
