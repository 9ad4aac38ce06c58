package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the one query registry (`SparkEntry.registry`): the key
  * sets of its three views, the exact text of every DuckDB oracle, name
  * uniqueness, and the `smallSf` set Bench samples at sf0.01. Names and
  * oracle hashes are recorded literally, so renaming a query or editing
  * its oracle SQL fails here until the record is updated on purpose. */
class RegistrySpec extends AnyFunSuite {

  /** SHA-256 (hex) of each oracle SQL string, keyed by query name. */
  private val OracleSha256: Map[String, String] = Map(
    "ann_cosine_topk" ->
      "3091aa7a9c57e4be4956e5e8fd22c61e37325e7e95d85ac46c272228f6b938d5",
    "ann_ivf_recall" ->
      "daa5df65fd0abce12a6fe801fdad9562b35258c81d9c8bae1bc553404aadff3b",
    "ann_ivf_topk" ->
      "be9e123945b5f082c9fb5684f44dd7b2ef79c0516f54509ac6d4d555664aad57",
    "ann_lsh_recall" ->
      "e362be2755dbd222f5703a360ae4dba5bfdec58458367ac176c5c3e258d1fdb6",
    "ann_lsh_topk" ->
      "fcdd93784afc8bc76a48f4256d73d71a3fe68218a7d9aec2ebfcf0d456aa0f9a",
    "approx_distinct_law" ->
      "66802e9002ba72ec75ac9ed07ff9d22082e70cef03c7986019c167925be3d852",
    "coerce_split" ->
      "971eff68995b1ff403a0c9adbbf261c40e4c0e099b10770b1671e792c601bc6a",
    "csv_ingest" ->
      "0e75a9e6ba3911561426e1f836bf7a8672627b822f7a6b9fe7d69f4889ddbad5",
    "decode_hinted" ->
      "a7525bf6cc82768d0da8216bdfc5b8cd34c91cdc0749f6fb10b3e7025ba156fb",
    "decode_strings" ->
      "67316f933c4a1ae6c580e9897e77b45231d9579bb3695ba2cad323f11ba5bc19",
    "decode_time" ->
      "ecb5138de0c717fbff95f2375c644cf25a15cdb576ddf13fea5a451d679a28d0",
    "dedup_clusters" ->
      "0b6c7aaaebcbac9f362f887ffe8cebc953a8351a434cc0ebdfd5e552245641ca",
    "dedup_clusters_star" ->
      "0b6c7aaaebcbac9f362f887ffe8cebc953a8351a434cc0ebdfd5e552245641ca",
    "dedup_degenerate" ->
      "da315478550535475fecfdb200a82361dfef1d7aa2eee7348091a6012785574d",
    "dedup_embedding" ->
      "f3a52602e8f20d2dc6cb8fe7c73c659044c92405e26603170cada5b4856ec105",
    "dedup_exact" ->
      "83ce02a4e5dc1609d7cc4946b0e05f10d19e99fa1516f7f3e314d07bca0f2289",
    "dedup_jaccard" ->
      "01d085f0273681c9cd6b40e44442f00d3f24a8d94caf348ebe59121c17fc7900",
    "dedup_minhash_lsh" ->
      "95478ab72c5dedc86f7b5b326264ee792c02cc3945fe77e74ac9daea08b80b86",
    "dedup_simhash" ->
      "8d90a7a707b4010ee900ef803c58d89bc10c526d938bdd84a77549a9fa7aecc4",
    "drift_chisq_lang" ->
      "32b4ca817cd11619405392cd61db501cf42cd81f578084a5c178185e5eaefab3",
    "drift_ks_value" ->
      "76d11cffd650ecba0d164c58f6f4bcb4071e8bb9f81d3f8b4a0cf19c193a4952",
    "drift_lang_freqs" ->
      "b32eef46be8fc0bf67f0be72c5459c2ad31cd456ee0f00f8930f37aa9e97ddfc",
    "export_forms" ->
      "2856bd26c72b730868501c3c62e6e2803903d667665d486b3be85832c07984ca",
    "fingerprint" ->
      "cae3ab68b4f384593f15b392ddf9389c7a019387d48a069d1612550cdb62f657",
    "fn_check_shrink" ->
      "bd3c69bdfad117ddf305db1978161ef6bb1ad2f00276408a73ad0470546f071f",
    "fn_string_verdicts" ->
      "da5d3273d5ac78c86ee5d12d25433fc316f3368ddd9d3902184442d61fb3bbbc",
    "gen_props_roundtrip" ->
      "78fa84c06d2c945b61a3c09d8ea70ff7778a980d100edca5fa2a2733e45843f7",
    "gen_re_recursive_law" ->
      "65ce9864e6f0a95a31bb40e0e36ec4328b5cae02a96cc404074793b4547d3c9c",
    "gen_roundtrip" ->
      "12530315d7258cc9912cf346fc3709381392d1af0b85f5e97ffac77670fe5bb7",
    "infer_approx_law" ->
      "9d620da9a2fbf8e6b9da880d2e748f39d199d1cff4f99037982d5d1b10537465",
    "infer_schema" ->
      "7486d668d7861c36ee73b811ebe90aaadf77cdced7c38647cc4b00ac8a10bc84",
    "join_priority_counts" ->
      "f45beb72ebf34876dcb4d9a3ce6476c91d7f26f8a1daa1f73565559b55d5e821",
    "json_ingest" ->
      "af9ac0440c3222f98bad97f0c3584b5873bf5add04a7d818f6523ef7853bd767",
    "ks_sketch_law" ->
      "b547f1a66b4b172d6c2fb81e99f34b837d8c307c55afabb6292102286817db2f",
    "lang_id" ->
      "4c7c74f2b528e9fde649cc5dd82c457f9864e2d8e683f66cff7f28b4c5a2bc8e",
    "map_rest_verdicts" ->
      "3afd6e5ca3f64ac006e9bf4398503956b8b90fad6f54dc03d064c3d40458fa74",
    "merge_schema_verdicts" ->
      "33b634987aabb06eff4dd920e7a59df07b0c686b72f7fb27eb80850a3ea25542",
    "multi_expr_dispatch" ->
      "77b786d2480a390847d79875e58ebe5b9716a79f9e2e2227ca4f423a5681ace5",
    "multi_key_verdicts" ->
      "b75404df16ea9a122458ace52cc33477f520a19a9492b66f2a3bae277d48b317",
    "multimodal_decode" ->
      "93a439b9ddff3f02fd6e77718fd008adf943f6491e6a9e06120aa508d330b505",
    "multimodal_features" ->
      "6697435a59eea540320411a66b41fea2574ca72a6b305b22eddd0860e958cfd5",
    "multimodal_frames" ->
      "326fbde48f67ce876a785ad7d58240f2ba789842a6a1f8ab921e2046f7c054ec",
    "multimodal_meta" ->
      "0174e0d787039a331bcf2a7ab8181b7b5438d8e274f3375a20e4cbbfd3f9cb32",
    "native_hash_law" ->
      "d9b5f5490672788dad3c001f97d6d7c0dad4f01b4d2396bb6c33ce3fd6cfbe91",
    "nulls_lineitem" ->
      "c6e281c78d8faf9cbe7c6c4d76dc7eb27a9c966f7c0ca28b369a7217f1c1e440",
    "orc_ingest" ->
      "20aecc1eb682c253e42575ccb9f68cbff9e7b7cd2f3743199b18f2a52d3b7abf",
    "parse_and_transforming" ->
      "37aaa037933586a23af521fd4431910d09372ace2dc9068dd7258a62c9a5204a",
    "parse_catn_roundtrip" ->
      "d75ef4d856ddeb8e0de08b8012c68a06581019ad02c5056cf290ec64b10d9d4f",
    "parse_general_roundtrip" ->
      "c9006543b9605f42eb3fd81811e853e872e6026b66322b9482b3ca68d84e5f37",
    "parse_or" ->
      "548886e9679cece9448637c2c236416c7de59e76ab3d553c4d776eedabb36f8f",
    "parse_orn" ->
      "b446a1c1fe2aa49cb8abbcf6a4e91724aad9a41eb9b9cf85bca64580c3cac1fa",
    "pipeline_survivors" ->
      "d721c7a56a216d028a076741e2b27507f606d84bdc6412cd8f3734d9faaada15",
    "q1_agg" ->
      "b4eaade6c2fc38a42bceb32fd3ab4864bc76ff4c27b00eafc20b8756cc890434",
    "ref_lineitem_orders" ->
      "dfcaa758d3b83d6d396f8aa19b7818d94a484cf8cef928c9968a84fc2e0890c5",
    "resumable_verdicts" ->
      "98bd81a4293e6c50175230b24978159436bf1117c76c8f5bbffa24e179fb501d",
    "salted_lang_counts" ->
      "fb0122332cda6cca422e69161f88971abbee233b09e6a51b312e96626a4d72e2",
    "sample_stratified" ->
      "ee957c8ed5149dd26ead5125837bbb8817848198ac6086dbbd1cbd3531c41ee4",
    "schema_ops_union" ->
      "9b8fd2de90ccdadbceb81fc8a9ad61382954670db2ad1cbae8e504d6cfbdc8da",
    "schema_ops_verdicts" ->
      "4b022edf9e9169eba70d08096f854ccfa67d87effda7f522cae3da94ee8f815e",
    "seq_regex_valid" ->
      "58bfb6cc0e6dca64dfd944144a5bc125b4e1f65eb409ec2c369c8ae4faadd169",
    "snapshot_diff" ->
      "4d8e94c120e349638a2b0de700cf3f0840cb90eda359b78f84087c18e3f771a8",
    "snapshot_diff_binary" ->
      "863650c429f2ef9b8b515f227e5074c35cdf914abdeb30b238b8ac9066c79d28",
    "snapshot_report" ->
      "43955b21621e2f3b1c10e5590566e6fbc9f22ae5f56d6bdc924367f761969218",
    "snapshot_table_diff" ->
      "717adef8ab2ecda2f207b4b6667f557caf2a7c2255174ca71276c2b20b2af02a",
    "snapshot_table_lineage" ->
      "5ab5f277deea0039fef8885cf6b04b465648e013953665e68a6a7d29a0f3ef5e",
    "spellcheck_suggestions" ->
      "e50452a78396de41909104adf952fd15e1939155a26c62f1cdaa77510cc1cd08",
    "sql_kernel_minhash" ->
      "b5a51ff72ed31873ec7ebcaad5e5130abaed90c34837131d5387908f38d1229e",
    "stats_orders" ->
      "772d5c4520a1c2a031d5282e0e3b99b7c6c97a07086145e6c7a73f2997d1c53c",
    "streaming_dedup" ->
      "4210abd3ec78a32867309d17ea4622e210a5f552e668ad18b173d7f775195887",
    "streaming_violations" ->
      "b072b2a7d091779c2021958738310a6028eba80f5075a7a8aeb02ef06917068a",
    "streaming_windowed" ->
      "0c5b42a46954fb071308ef42e237f9216cac5fde8900497a6a813458f17288d8",
    "text_quality" ->
      "4574677de1f2de500e8d2612cf78a69ac0bca019ccc159983c40654a0ac7a7cc",
    "token_counts" ->
      "00f65c5462dedd00c80b5b22435b129e3ced29300f97d151746cac3ab8277064",
    "top_hosts" ->
      "af7121fc5b74ca7251f5497294b540b780aed64db6916522a7cc0a8d12ffd15c",
    "transform_pipeline" ->
      "9ec04b5a5d60c1eb4b8ec1c8862b10088c520794fe44b035ba5ebb20df31d1c3",
    "transform_seq_set" ->
      "8e82d9a22d7475e5604b7a737aad940fd98c8eb01e3ae3e7d8ee0c04fdac669b",
    "unique_orders" ->
      "c075ec2d1f8e7a48c0c452c7d47928293c9ead3ffa9f6024110bf452837fc515",
    "v_composite_violations" ->
      "365a14e6d69788a691d108934fcdb9c339824dd2c6e0ff380fed625ff1a5e528",
    "v_custom_violations" ->
      "71ed93fd98d0dcf380206fb92fd4425a54ab14e0366713c1c23f912653b0d689",
    "v_error_path" ->
      "412de4a8b98cfbbdc49ff280c4d808c4c903aabb86113dd465e3df63548c17d3",
    "v_events_violations" ->
      "67282aa65c41b4dd4831ddedc059aca7305956ce3fc834a3e3b5d12f77f6a128",
    "v_every_window" ->
      "153bd6b9072f0a169c1c1c5a77cdc662ed65e938563541136c0ce8292d73865f",
    "v_ident_violations" ->
      "c14077dabc391b21ea5e586a8fbbc5fa25185e9dcbc538367700393669be4368",
    "v_lineitem_violations" ->
      "b45157795d47e1dbcd8819570d14ead47db7c10ac440901c59a8c0e4aa9a9050",
    "v_map_fixed" ->
      "59562d1e82f4a55bcbbd39f48be377ec76ceb9de7ff1ee29f4bba02436311acf",
    "v_nested_violations" ->
      "dee2003df728c17716a6a92fb352046f9ae517f5095a38d89b90f8ab698d6375",
    "v_recursive_ref" ->
      "4b47095557836777465c8d7088304b111c546c79ef41158d30a3c31539f2cedd",
    "v_seq3_violations" ->
      "c3278adfe72904f64eab917b31a2d7988e91361a5f54db6d2b87f4660d907bf2",
    "v_seqable_violations" ->
      "854c882a3a67b9412cac237d556dcc9ac8dfe9e0102d247296e2629eb022eeff",
    "v_time_violations" ->
      "acdd63fc0c510020e3f8529046492b7b24d878b0e5b2eeda013f879ea6dfd1b2",
    "v_validate_violations" ->
      "85938a9c826ba103f277904ab8cfc07c2c4b07450477eb01fb4360e7cc4e61ee",
    "violation_counts" ->
      "b19bbe7131338ce15d185d2dda5970a9e4a85ad440cadd8cd7411ba7521a60af",
    "violations_humanized" ->
      "4217bd87ac542692ef0d8bc3fe3d9f1fccd2f5ca7ebe7491d456d036b205a76f",
    "violations_sampled" ->
      "6466d61a66cf5bf578a84666d7cf28724fa61b3942f7256518aeb45db7b2c803",
    "violations_spliced" ->
      "8eba554badef90672db064e58f7f5da0f4785b490ba733d43d353a5203a56da1",
    "web_byte_identity" ->
      "040069a00bc90a90e6041b64a75fa3baf0db2f6c699153e31f415b52b24418f8",
    "web_dup_rows" ->
      "518e06645f46539fd89fbb38a3fe8264e9eb8c2ed589e0bf7da2d51d9878383e",
    "web_ref_orphans" ->
      "d3535ce6c3687c578fad17714c3f19b32e2a3e07f0978603a019cea2fd6cfe2a",
    "web_unique_url" ->
      "05e9905c9106205070d51b9d8cb05a811b864ed81a50e44eae91550cda33e4f9",
    "web_verdicts" ->
      "f13b5d3664a241e1afec96beb4809a83ae0ae961afe8f37b83c05f2640260b9c",
    "web_violations" ->
      "cc929ddd4aceec55dbae072597b7f75574d2d6b6c9dba04ca6c53366bd6d5cf3",
    "web_violations_masked" ->
      "4fc4185b15bb9434ba3c3eab036d78daa2ce924f1db8e56eee8fcc1332a00aed"
  )

  private val BenchOnly = Set("dedup_minhash_fast", "dedup_simhash_fast",
    "stats_approx_distinct", "drift_ks_sketch", "infer_schema_approx")

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  test("derived key sets equal the recorded ones: 102 gated, 5 bench-only") {
    assert(OracleSha256.size === 102 && BenchOnly.size === 5)
    assert(SparkEntry.queries.keySet === OracleSha256.keySet)
    assert(SparkEntry.oracleSql.keySet === OracleSha256.keySet)
    assert(SparkEntry.benchOnlyQueries.keySet === BenchOnly)
    assert(SparkEntry.registry.size === 107)
  }

  test("every oracle SQL string hashes to its recorded SHA-256") {
    val changed = SparkEntry.oracleSql.collect {
      case (n, sql) if !OracleSha256.get(n).contains(sha256(sql)) => n
    }
    assert(changed.isEmpty, s"oracle SQL changed: ${changed.toSeq.sorted}")
  }

  test("a duplicate query name is rejected by the registry's own check") {
    val q = SparkEntry.registry.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.distinctNames(SparkEntry.registry :+ q.copy(oracle = None)))
    assert(e.getMessage.contains(s"duplicate query names: ${q.name}"),
      e.getMessage)
    assert(SparkEntry.distinctNames(SparkEntry.registry) ===
      SparkEntry.registry)
  }

  test("the smallSf set equals Bench's frozen streamingTrio") {
    val bench = new String(
      Files.readAllBytes(Paths.get("src/main/scala/graft/Bench.scala")), UTF_8)
    val trio = """streamingTrio\s*=\s*Set\(([^)]*)\)""".r
      .findFirstMatchIn(bench).map(_.group(1)).getOrElse(
        fail("no streamingTrio Set literal in Bench.scala"))
    val names = """"([a-z0-9_]+)"""".r.findAllMatchIn(trio).map(_.group(1))
      .toSet
    assert(names.size === 3)
    assert(SparkEntry.registry.filter(_.smallSf).map(_.name).toSet === names)
  }
}
