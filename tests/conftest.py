import pytest


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_spark.session import get_spark

    sp = get_spark(cpus=8, shuffle_partitions=8)
    sp.sparkContext.setLogLevel("ERROR")
    yield sp


@pytest.fixture(scope="session")
def fixture_corpus_pdf():
    from lucene_solr_spark.sources.transcripts import generate_transcripts

    return generate_transcripts(200)  # sf-unit: ~3k turns, seed=42


@pytest.fixture(scope="session")
def oracle(fixture_corpus_pdf):
    """Pure-Python control engine over the fixture corpus with doc_ids in
    stable (conv_id, turn_idx) order."""
    from lucene_solr_spark.functions.analysis import standard_analyzer
    from lucene_solr_spark.testing.oracle import OracleEngine

    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return OracleEngine(zip(range(len(pdf)), pdf["text"]), standard_analyzer())


@pytest.fixture(scope="session")
def spark_corpus(spark, fixture_corpus_pdf):
    from lucene_solr_spark.operators.indexer import assign_doc_ids

    df = spark.createDataFrame(fixture_corpus_pdf)
    corpus = assign_doc_ids(df, ("conv_id", "turn_idx"), n_partitions=8).persist()
    corpus.count()
    return corpus


@pytest.fixture(scope="session")
def index8(spark_corpus):
    from lucene_solr_spark.operators.indexer import IndexConfig, build_index

    return build_index(spark_corpus, IndexConfig(n_partitions=8)).persist()


@pytest.fixture(scope="session")
def searcher(index8, spark_corpus):
    from lucene_solr_spark.operators.searcher import IndexSearcher

    # prune_min_postings=0: fixture corpora are tiny; keep the theta
    # pre-pass exercised whenever tests pass prune=True
    return IndexSearcher(index8, spark_corpus, prune_min_postings=0)


@pytest.fixture(scope="session")
def pos_index8(spark_corpus):
    """index8 with positions, shared by the phrase, span, interval and
    automaton modules (one build per session)."""
    from lucene_solr_spark.operators.indexer import IndexConfig, build_index

    return build_index(spark_corpus, IndexConfig(n_partitions=8, index_positions=True)).persist()


@pytest.fixture(scope="session")
def payload_index8(spark_corpus):
    """Simple-analyzer index with ``pos & 7`` payloads (payload queries)."""
    from lucene_solr_spark.functions.analysis import simple_analyzer
    from lucene_solr_spark.operators.indexer import IndexConfig, build_index

    return build_index(
        spark_corpus,
        IndexConfig(analyzer=simple_analyzer(), n_partitions=8, payload_mode="pos_mod8"),
    ).persist()
