"""VCF text sink (S9, Clinvar2Vcf.java:73-174): fixed header lines +
genome-sorted tab-joined data lines written as a single text file.

The reference string-builds the file in memory; here the data lines
stay distributed until the final single-file coalesce (VCF is a
single-file format — the one place a width-1 write is the contract,
not a bottleneck: everything upstream ran at full parallelism and the
sort is a distributed range partition whose partitions coalesce in
order)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VCF_HEADER = [
    "##fileformat=VCFv4.2",
    '##INFO=<ID=RGD,Number=1,Type=String,Description="RGD variant rgd id">',
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
]


def write_vcf(lines: DataFrame, path: str, header: list[str] | None = None) -> None:
    """``lines`` must have columns (chr, pos, line) — pre-rendered data
    lines (see queries_domain.q_vcf_export for the render). Sorted by
    (chr lexicographic, pos numeric) per O1 (Clinvar2Vcf.java:137-167);
    header rows sort first via the grp key. orderBy produces
    range-partitioned sorted output whose partitions coalesce in order,
    so the single text file is globally ordered."""
    # the header rows as a literal array of structs, inlined in the JVM
    hdr = lines.sparkSession.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(0).alias("grp"),
                        F.lit(i).cast("long").alias("pos"),
                        F.lit(None).cast("string").alias("chr"),
                        F.lit(h).alias("line"),
                    )
                    for i, h in enumerate(header or VCF_HEADER)
                ]
            )
        )
    )
    data = lines.select(
        F.lit(1).alias("grp"), F.col("pos").cast("long"), F.col("chr"), F.col("line")
    )
    (
        hdr.unionByName(data)
        .orderBy("grp", "chr", "pos")
        .select("line")
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )
