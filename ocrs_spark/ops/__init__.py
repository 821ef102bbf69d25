"""Query/operator library over the driver test tables.

Each module exposes ``QUERIES: dict[str, (spark, sf_dir) -> DataFrame]``
and ``ORACLES: dict[str, str]`` (DuckDB SQL producing identical rows,
column names aliased to match; floats rounded identically on both sides
so order-insensitive value hashes agree).

``all_queries()`` / ``all_oracles()`` merge every module for
``__spark_entry__``.
"""

from __future__ import annotations


def load_tables(spark, sf_dir: str, *names: str):
    """Read the requested parquet tables as DataFrames."""
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def spread(df, min_partitions: int | None = None):
    """Scale-adaptive scan spreading (r6, guide §2.5 input skew).

    The sandbox sf tables are SINGLE-row-group parquet files, so every
    scan starts as 1 partition and any per-row-heavy stage fused above
    the first exchange (Arrow passes, explodes, partial aggregates)
    runs on one core. Repartition up to the session parallelism ONLY
    when the scan is narrower — on a production multi-file table the
    branch never fires and no exchange is added, so this is input-size
    derived, not a local-mode constant.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def derived_table(spark, sf_dir: str, name: str, columns, schema: str, row_fn):
    """A table synthesized row by row from ``documents``, landed once
    per (session, sf_dir) as ``name``.

    ``row_fn`` receives each row's ``columns`` as Python values; its
    result fills the ``schema`` columns after ``doc_id``, which is
    carried through as the first column (a scalar fills one column, a
    tuple several). ``columns`` is a sequence of column names, or a
    function of the documents DataFrame returning names and Column
    expressions; either way nothing is read until the table is built.
    The scan is spread before the Arrow pass, so the per-row work never
    runs on one core.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from ..matcache import materialize_once

    def build():
        key, *out_cols = StructType.fromDDL(schema).names

        def batches(pdfs):
            import pandas as pd

            for pdf in pdfs:
                args = (col.tolist() for _, col in pdf.iloc[:, 1:].items())
                vals = [row_fn(*row) for row in zip(*args)]
                if len(out_cols) == 1:
                    out = pd.DataFrame({out_cols[0]: vals})
                else:
                    out = pd.DataFrame(vals, columns=out_cols)
                out.insert(0, key, pdf.iloc[:, 0].to_numpy())
                yield out

        (docs,) = load_tables(spark, sf_dir, "documents")
        cols = columns(docs) if callable(columns) else columns
        keyed = docs.select(F.col("doc_id").alias("_doc_id"), *cols)
        return spread(keyed).mapInPandas(batches, schema=schema)

    return materialize_once(spark, sf_dir, name, build)


def all_queries():
    from . import (
        alloc,
        anchortext,
        audio,
        video,
        bitext,
        bloomskip,
        chunking,
        bootstrap,
        bpe,
        budget,
        canonical,
        captions,
        cdc,
        ccnet,
        changepoint,
        changerate,
        classeval,
        compaction,
        cooccur,
        countmin,
        crawlplan,
        dedup,
        curastream,
        dataorder,
        datauri,
        denoise,
        doremi,
        dpp,
        dsir,
        entropy,
        joinsize,
        kmv,
        labelprop,
        langseg,
        semistruct,
        setjoin,
        sitemaps,
        drift,
        funnel,
        gateeval,
        gateorder,
        gatewaterfall,
        graphsample,
        fuzzyjoin,
        curation,
        decontam,
        dedupgraph,
        gopher,
        hllrollup,
        heavyhitters,
        hostrep,
        hybrid,
        icebergops,
        imagededup,
        imagemeta,
        mediarouter,
        increment,
        ireval,
        ivm,
        linkgraph,
        lshcal,
        mailbox,
        logreg,
        lmscore,
        mirrors,
        mixture,
        multimodal,
        nbclassify,
        negatives,
        novelty,
        ocreval,
        officedoc,
        outline,
        packing,
        percolate,
        passagededup,
        pdfmixed,
        pii,
        postings,
        postingsize,
        pq,
        profiling,
        quota,
        relational,
        retrieval,
        reshard,
        robust,
        robotsops,
        scd2,
        semdedup,
        shardexport,
        similarity,
        splits,
        skew,
        skewadvisor,
        skyline,
        streamrows,
        substrdedup,
        subtitles,
        tables,
        warehouse,
        watermark,
        wsample,
        timeseries,
        templates,
        temporal,
        texttile,
        textstats,
        trend,
        trending,
        triangles,
        urlnorm,
        urlpairs,
        vocab,
        vocabcurve,
        urltemplates,
        webarchive,
        webdataset,
        webdoc,
        winnow,
        zipf,
        zorder,
    )

    out = {}
    for mod in (relational, alloc, anchortext, audio, video, bitext, bloomskip, chunking, hllrollup, bootstrap, bpe, budget, canonical, captions, cdc, ccnet, changepoint, changerate, classeval, compaction, cooccur, countmin, gopher, lmscore, dedup, decontam, curation, curastream, dataorder, datauri, denoise, doremi, dpp, dsir, entropy, joinsize, kmv, semistruct, setjoin, sitemaps, drift, funnel, fuzzyjoin, gateeval, gateorder, gatewaterfall, graphsample, labelprop, langseg, heavyhitters, hybrid, ireval, dedupgraph, imagededup, imagemeta, mediarouter, increment, ivm, semdedup, nbclassify, negatives, similarity, skyline, textstats, trend, trending, mirrors, mixture, multimodal, novelty, zipf, skew, skewadvisor, pii, postings, postingsize, pq, ocreval, officedoc, outline, profiling, quota, retrieval, reshard, robust, percolate, shardexport, packing, streamrows, substrdedup, subtitles, tables, passagededup, warehouse, watermark, wsample, timeseries, texttile, splits, hostrep, triangles, templates, temporal, scd2, webdoc, pdfmixed, webarchive, webdataset, icebergops, linkgraph, lshcal, mailbox, logreg, crawlplan, urlnorm, urlpairs, vocab, vocabcurve, urltemplates, robotsops, winnow, zorder):
        out.update(mod.QUERIES)
    return out


def all_oracles():
    from . import (
        alloc,
        anchortext,
        audio,
        video,
        bitext,
        bloomskip,
        chunking,
        bootstrap,
        bpe,
        budget,
        canonical,
        captions,
        cdc,
        ccnet,
        changepoint,
        changerate,
        classeval,
        compaction,
        cooccur,
        countmin,
        crawlplan,
        dedup,
        curastream,
        dataorder,
        datauri,
        denoise,
        doremi,
        dpp,
        dsir,
        entropy,
        joinsize,
        kmv,
        labelprop,
        langseg,
        semistruct,
        setjoin,
        sitemaps,
        drift,
        funnel,
        gateeval,
        gateorder,
        gatewaterfall,
        graphsample,
        fuzzyjoin,
        curation,
        decontam,
        dedupgraph,
        gopher,
        hllrollup,
        heavyhitters,
        hostrep,
        hybrid,
        icebergops,
        imagededup,
        imagemeta,
        mediarouter,
        increment,
        ireval,
        ivm,
        linkgraph,
        lshcal,
        mailbox,
        logreg,
        lmscore,
        mirrors,
        mixture,
        multimodal,
        nbclassify,
        negatives,
        novelty,
        ocreval,
        officedoc,
        outline,
        packing,
        percolate,
        passagededup,
        pdfmixed,
        pii,
        postings,
        postingsize,
        pq,
        profiling,
        quota,
        relational,
        retrieval,
        reshard,
        robust,
        robotsops,
        scd2,
        semdedup,
        shardexport,
        similarity,
        splits,
        skew,
        skewadvisor,
        skyline,
        streamrows,
        substrdedup,
        subtitles,
        tables,
        warehouse,
        watermark,
        wsample,
        timeseries,
        templates,
        temporal,
        texttile,
        textstats,
        trend,
        trending,
        triangles,
        urlnorm,
        urlpairs,
        vocab,
        vocabcurve,
        urltemplates,
        webarchive,
        webdataset,
        webdoc,
        winnow,
        zipf,
        zorder,
    )

    out = {}
    for mod in (relational, alloc, anchortext, audio, video, bitext, bloomskip, chunking, hllrollup, bootstrap, bpe, budget, canonical, captions, cdc, ccnet, changepoint, changerate, classeval, compaction, cooccur, countmin, gopher, lmscore, dedup, decontam, curation, curastream, dataorder, datauri, denoise, doremi, dpp, dsir, entropy, joinsize, kmv, semistruct, setjoin, sitemaps, drift, funnel, fuzzyjoin, gateeval, gateorder, gatewaterfall, graphsample, labelprop, langseg, heavyhitters, hybrid, ireval, dedupgraph, imagededup, imagemeta, mediarouter, increment, ivm, semdedup, nbclassify, negatives, similarity, skyline, textstats, trend, trending, mirrors, mixture, multimodal, novelty, zipf, skew, skewadvisor, pii, postings, postingsize, pq, ocreval, officedoc, outline, profiling, quota, retrieval, reshard, robust, percolate, shardexport, packing, streamrows, substrdedup, subtitles, tables, passagededup, warehouse, watermark, wsample, timeseries, texttile, splits, hostrep, triangles, templates, temporal, scd2, webdoc, pdfmixed, webarchive, webdataset, icebergops, linkgraph, lshcal, mailbox, logreg, crawlplan, urlnorm, urlpairs, vocab, vocabcurve, urltemplates, robotsops, winnow, zorder):
        out.update(mod.ORACLES)
    return out
