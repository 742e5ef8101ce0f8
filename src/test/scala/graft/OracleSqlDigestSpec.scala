package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact bytes of every DuckDB oracle: the SHA-256 of each
  * `SparkEntry.oracleSql` value (after `.stripMargin`, UTF-8), by query
  * name. `oracleSql` is what Verify writes to `oracle_sql.json`, so a
  * refactor of the oracle text (shared CTE builders, interpolated
  * fragments) must leave every digest unchanged; a change to an oracle's
  * meaning updates its digest on purpose, in the same commit. It also
  * pins the registry's name set, which every query shares with its
  * oracle. (No SparkSession needed: the oracle text is static.)
  */
class OracleSqlDigestSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(x => f"${x & 0xff}%02x").mkString

  /** Query name -> SHA-256 of its oracle SQL. */
  private val expected: Map[String, String] = Map(
    "q_a1_nonnull_counts" ->
      "2a160e1cbb46aa5726082794518566029dfee72a4ec2de5c3b1bc013d8567deb",
    "q_agg_groupby" ->
      "d3ec21a7cdb5a07a62e991e9b1062176a0871b0d94981c3f6f834b9a67e9f2a5",
    "q_agg_upsert" ->
      "ae39ffb56d9de4bf24f858d9baaa73183a11caedb41c3fbbd5d7c5783f3e8479",
    "q_ann_bruteforce_topk" ->
      "f7aa730d2269da79f975ab12df86940ca185b0b1d2f906b3a3bf94b17736a11a",
    "q_ann_ivf_indexed" ->
      "154eaad5f3cfe2a6fff054b8bf1a693c0a18777fe4648eb158efb843c4b06ee3",
    "q_ann_ivf_steady" ->
      "154eaad5f3cfe2a6fff054b8bf1a693c0a18777fe4648eb158efb843c4b06ee3",
    "q_ann_ivf_topk" ->
      "154eaad5f3cfe2a6fff054b8bf1a693c0a18777fe4648eb158efb843c4b06ee3",
    "q_ann_ivf_trained" ->
      "a0a5b37f5dd917f824fa48c83a92324fc23c1b400b02f1275e0f6c92dc9e8c6b",
    "q_ann_ivfpq" ->
      "cf68cb7077f9606c5a969b49192027b298bac13aeb8fbd23b6ee7e9e383f1ffc",
    "q_ann_ivfpq_indexed" ->
      "cf68cb7077f9606c5a969b49192027b298bac13aeb8fbd23b6ee7e9e383f1ffc",
    "q_ann_ivfpq_refined" ->
      "ff527b29b46f28da9b53fd7e238175a6965d61764cddf259c031ce2b2b4d19d4",
    "q_ann_ivfpq_steady" ->
      "cf68cb7077f9606c5a969b49192027b298bac13aeb8fbd23b6ee7e9e383f1ffc",
    "q_ann_lsh_topk" ->
      "5f356be6779cae38afb1af73f87c39363287a4787ee495a2aaec670800a710a8",
    "q_ann_pq" ->
      "031f4df4fc02797adbe6f18c34b925e8a97866ebdcb65976bc1f97f67c8f8bc2",
    "q_ann_recall" ->
      "35ea3e7291139106cb2487299e546354e3f00e2fc599781995f2dbccf13f9db8",
    "q_ann_retrieval_topk" ->
      "b5f38a5f5dfd111e2bdb5a61e8585405ba59d85750e1b0d20e571f5f6087108e",
    "q_anomaly" ->
      "cbeedcdf1b0c679ec6839dd61707c37ebd0039d5c540d44e9cbe9d3ed2217f6a",
    "q_asof_join" ->
      "5a2a589fa5e655a8f937cb5ce5744cababe245e503e1277e6b619d39fbb1ca97",
    "q_attribution" ->
      "63d449c0a0e2aaf9a1e48b805dabc1ad74e550e29f523ca04812483b3599afa3",
    "q_audio_coverage" ->
      "97fc979243fa3ecade4c47e7c90ef740acd98e85308aafbdbf727000b06fbb8e",
    "q_audio_fingerprint" ->
      "7513f224f1f521694e2d7765f8bc24060befc083bfe8524481e505526222f3f8",
    "q_audio_fingerprint_adpcm" ->
      "aa6aab972e77e21ec2c0cbdf9dcb8a59c58c6c491972bdbb23bcb97a3760be07",
    "q_audio_fingerprint_aiff" ->
      "e4984e3efabbc9a8a32d6b5853db00230430194de067c5f766fc23c11f45b47b",
    "q_audio_fingerprint_alaw" ->
      "c1347b0354d3e70755c267146ccd17f43c51b773c3f2a7c2934deed259b763aa",
    "q_audio_fingerprint_au" ->
      "cd9fa23ae886412009443cd0ba2fb51c18b6e0e4cec0fbbe65bdf485023bfa32",
    "q_audio_fingerprint_flac" ->
      "af7f8fb977d8a89113ce44c04c55b540d056e2b8251cd50e67320ada7c2f2649",
    "q_audio_fingerprint_float" ->
      "7513f224f1f521694e2d7765f8bc24060befc083bfe8524481e505526222f3f8",
    "q_audio_fingerprint_msadpcm" ->
      "190086be6550862ad7973b838120d226af343450519d8ea5ab10d473f004468e",
    "q_audio_fingerprint_mulaw" ->
      "93260bfb5d0fedeab73056a4fcbc27f1a44dd250a755f64b3695166a8a15dc3b",
    "q_audio_fingerprint_oggflac" ->
      "af7f8fb977d8a89113ce44c04c55b540d056e2b8251cd50e67320ada7c2f2649",
    "q_audio_fingerprint_pcm_widths" ->
      "bb8d76a7883e38896e00ff546d1375611030e10e2afa41780cb3e88481e9eaa8",
    "q_audio_spectral" ->
      "efe1d0a8b429c096904c715ecd480715f386c67d3bb53dbd622d9fd515e42ae0",
    "q_bitext_mine" ->
      "d6c7bc38944a047acd0374ce4bfaf3ebdbbe50debd52109e1208923b7356486c",
    "q_bm25_deleted" ->
      "38d8d8bf95c1a9cb723d7180c41726dfb3aeda441a22fd675db367cab8ad4cb0",
    "q_bm25_deleted_steady" ->
      "38d8d8bf95c1a9cb723d7180c41726dfb3aeda441a22fd675db367cab8ad4cb0",
    "q_bm25_indexed" ->
      "ca837ba3d51d4b608a09cae38bd35fc8c7b8d5d9b67dcce9da9a5175533ec9fd",
    "q_bm25_steady" ->
      "ca837ba3d51d4b608a09cae38bd35fc8c7b8d5d9b67dcce9da9a5175533ec9fd",
    "q_bm25_topk" ->
      "ca837ba3d51d4b608a09cae38bd35fc8c7b8d5d9b67dcce9da9a5175533ec9fd",
    "q_bmp_decode" ->
      "c043d3aa75996545986d5601adc24d0d20ac9e67b8bd3a105208fa1c388113f4",
    "q_bmp_resize" ->
      "cdb9f449a3fb354a15316b5e2944327651defa0aaa9307d5a2258114dc5794df",
    "q_boilerplate" ->
      "56c31950a347d011cddc7857a0d3505e31b7e604c562dba674c0861ee48eb5a0",
    "q_bpe_encode" ->
      "11ec2db40f2c08629dae3d673e6d3fbc3d6eb3f0e1b60b254596331aa5886631",
    "q_bpe_merges" ->
      "4228cb73de29f3d34d3f51c2185916a97a9982b3da1d0ce8873a21edff58b9a8",
    "q_bpe_train" ->
      "78ec07a93f07d11ae1f226277ac0fdfa8bd50f07eafc8e00838e58077394c9c6",
    "q_c3_comma_decimal" ->
      "4f3e88e88f900fb082a112c25dfd4704a943ac05144c073ef0263d354c2b2664",
    "q_c4_digit_strip" ->
      "e3c2a53532a012fd3fbcdf2aec9445ee31f077bd904b462a35e52e3646ffa437",
    "q_cdc_chunks" ->
      "6074384fdf7bb9e964bae99f097eab1e18abe6a4e66eee45333cb55849b5b8ff",
    "q_cdc_latest" ->
      "516231ec022c116b6573eb3a5fb1f3064fc77e7c4813a39aadbe738efe324955",
    "q_chunk_dedup" ->
      "e6f85adcf651ad3072eb2ad01a434187194c61cf66d4b121500b43f1f8cc5d63",
    "q_chunk_windows" ->
      "c1cd5ba89a794904bb4b436f21fbc16db9a69373995394f4b87f81914cd93804",
    "q_clustering" ->
      "234f9ea45a853e4d934dd1391a70cea297f28a9b06825c1d2216f01d70c98d61",
    "q_cms_topk" ->
      "4a94fe7879024e7848659b6b63e09a69f1b7985041aaa9ffb91f15d85e9a166a",
    "q_compaction_plan" ->
      "71938319455b2c128e7df821cc3aa15550a13d6cf2b2cc3e39385bd07c0a4314",
    "q_correlation" ->
      "912c3567445762069e6651b4552aa3e49a44d8a9f7488f622237d442a136c40c",
    "q_csv_roundtrip" ->
      "1eeb370b8ae4fdb921f63c52899e1c4e6a577fef8ea2990a2052d4942989dca5",
    "q_cube" ->
      "3ae7a3c9f80f6b258a53a82611574db09a616d4c42bb4d5ef1e21c025a546257",
    "q_curation_bloom" ->
      "fba043ec67c59f5a8f2d0369a47d1756bbd0e63e9eef5879a3f630755dbe8a73",
    "q_curation_disposition" ->
      "fba043ec67c59f5a8f2d0369a47d1756bbd0e63e9eef5879a3f630755dbe8a73",
    "q_curation_funnel" ->
      "baabb572dd205d1f8dfa1b3123b15c7de99c785c2e5ad9afccf91b03b7f5e793",
    "q_d1_distinct" ->
      "8eb117175786f09a73640e2ad4b10b0ecc326c1a37ba75e6d5b47d9d1dacedbe",
    "q_d2_dedup_keep_first" ->
      "ce31ae6329f14131abb95fd86109dd9e7305750a5f757cb4b19086b74b4a7f87",
    "q_dataset_fingerprint" ->
      "a5ef1353213215ac6758703ff8f48e0537c16252890a28bb97e80e04c6656f34",
    "q_decayed_sum" ->
      "144ce9e7e9df06dcf7021417791c2da02f40f6f2418af1443a1203a962561c30",
    "q_decontam_chunked" ->
      "54a8c4cbd16e2a653c722fb7c8ddf9f9a0d23e18f5cdf9f8a0a4b233386e967b",
    "q_decontam_chunked_steady" ->
      "54a8c4cbd16e2a653c722fb7c8ddf9f9a0d23e18f5cdf9f8a0a4b233386e967b",
    "q_decontam_fuzzy" ->
      "5b857c4db00196910aeccc71c43fe95d231785e153927eeb8d7c01cd4c1c991e",
    "q_decontam_fuzzy_indexed" ->
      "5b857c4db00196910aeccc71c43fe95d231785e153927eeb8d7c01cd4c1c991e",
    "q_decontam_fuzzy_removed" ->
      "07b2c5cdce765aaaf252ad0d7e35cd60806037e23deb4c0437f5436050286fd8",
    "q_decontam_fuzzy_steady" ->
      "5b857c4db00196910aeccc71c43fe95d231785e153927eeb8d7c01cd4c1c991e",
    "q_decontam_matrix" ->
      "569a3395d725a847e722f41a19c81f5fe56d737429e006ab235ed8a83236b3c1",
    "q_decontam_semantic" ->
      "b9428e6b0858b83b9e3beaf29c4ce3448ff8ce352529a4009cee9748d0cf1167",
    "q_decontam_semantic_indexed" ->
      "a4c0e2df6e8ca4b394c61a544a1b3beb8e1078824f8187c01ccdb5db15e64c65",
    "q_decontam_semantic_removed" ->
      "471a73cc0fe677860e1473fdd4936b35eb02d2e82a5fcd38c59c565f9fff5e9a",
    "q_decontam_semantic_steady" ->
      "a4c0e2df6e8ca4b394c61a544a1b3beb8e1078824f8187c01ccdb5db15e64c65",
    "q_decontaminate" ->
      "0bb865e348f43ff4f89ee4355e16ab98f3e677258881796db09d115eeeeed5dc",
    "q_decontaminate_bloom" ->
      "549b13405f86c04be1920bb7a9989ec7407e6bbe70b55b1f3013bf75574938e9",
    "q_decontaminate_removed" ->
      "6cf7f9b00c83991d3a85afabfe10de5aaa855007a45e10ea5426d25d04403053",
    "q_dedup_exact" ->
      "c347eddadb221448c58897153a4b76a72713109b91fa0283f7c06dda1a6956a8",
    "q_dedup_incremental" ->
      "279a84bb6ba71ed2db8f6fba218633822aef8af1a41c9750a9ac8234d10354ab",
    "q_dedup_lsh_erased" ->
      "2492137fd7fe5605ee18c32a351f943c497b8b5df97ce356e7720c3c6317a45b",
    "q_dedup_lsh_incremental" ->
      "cec3443b00819c24905fe6dc454a32e05af466ee626672cfeba39e8594cf6f0c",
    "q_dedup_lsh_indexed" ->
      "cec3443b00819c24905fe6dc454a32e05af466ee626672cfeba39e8594cf6f0c",
    "q_dedup_minhash_lsh" ->
      "68d74c85698b30fb19c9ad9fab44d7fd346b72f73889cd34c7e44c438b7bb4c8",
    "q_dedup_near_filter" ->
      "42bc886a5f404757eb0925efc40a9af30f5b011d7f2b9fa9ce1e9008f53a6d93",
    "q_dedup_simhash" ->
      "ad008c51241ac3152d05448987a8fabe74fba448276b92e814cca9e976a7a267",
    "q_dedup_simhash_incremental" ->
      "0a3a5f0adeb1d79230880c5210ca34f3523fc6c5be6447686c52d8273dd001d9",
    "q_domain_cap" ->
      "167a1e09d715f2d68a4e47c8922dbc3bfdb4d7c2afdcd156f9ae4bf71840c646",
    "q_dsir_weights" ->
      "6e35bc53a25c91c0ab523cc29d30c20c4302c5f73577866db65e70baa8753d7a",
    "q_dup_aware_weights" ->
      "e3217e52419e3934980365a20088211c09b5e636b6246cf7a8f8019c535c9b51",
    "q_dup_canonical" ->
      "91649e61f6120b326be35d891ff8828e9cd9049c8a720d2ebebed2c9e2959e92",
    "q_dup_clusters" ->
      "e358bc09c7351599a36b672bcf341b52755c0618a0499c5226977e2ce9d5f8f9",
    "q_dup_clusters_incremental" ->
      "e358bc09c7351599a36b672bcf341b52755c0618a0499c5226977e2ce9d5f8f9",
    "q_dup_clusters_star" ->
      "e358bc09c7351599a36b672bcf341b52755c0618a0499c5226977e2ce9d5f8f9",
    "q_dup_span_ranges" ->
      "34a306736e40b9c2ac8735a73b815430336a5ed55d36eeb51b497450dde66ba7",
    "q_dup_spans_removed" ->
      "2a7fca5217c3f1dddb988593d4b01533df4ec214c62b620e0165c14389428467",
    "q_embed_corr" ->
      "e559d5c868039f4653e63e6f221a748d25632579b8cd6b2fa2f0ae8ec8b2b7f4",
    "q_embed_drift" ->
      "148c91d0005349fa26e4e95e1057a5cf1e408fc107163ea5f0eb62a2468bc664",
    "q_embed_neardup" ->
      "467e53393b2d45885e9adb5c1a5ec3b9edf3104088c2cbfb13a64ccfc570dcae",
    "q_embed_neardup_incremental" ->
      "74e03c507548f281ab00286a2b23325b859a1c295e2d17d5b7a65e566f437e49",
    "q_embed_neardup_indexed" ->
      "74e03c507548f281ab00286a2b23325b859a1c295e2d17d5b7a65e566f437e49",
    "q_embed_neardup_steady" ->
      "74e03c507548f281ab00286a2b23325b859a1c295e2d17d5b7a65e566f437e49",
    "q_epoch_order" ->
      "af2d79156c59d2688018bacaa2d025700038d5e679b98ff2958043250dafa0ca",
    "q_explode_pos" ->
      "b6b86b49f96524c9be2b7796a7e3b486522da7133d7de3039ab38a89b27c2eb9",
    "q_f1_notnull_filter" ->
      "d5f1484e9175ad8df438fab19058c2766add295d276deea3e277e3f4a3987885",
    "q_fingerprint" ->
      "25699accfeeda0bcfcebfb90f6fd14b992e157fa068583e833b874d49dfa518b",
    "q_frame_sample" ->
      "be015b51e0b0f9037c9ad08e8e7c2aab9fa463488f58cdd7b5d6d0661e38a41a",
    "q_funnel" ->
      "e2633d4dad6778a5a36072644a89580c0a00052542f3211a055becf2f97ce058",
    "q_funnel_summary" ->
      "9fd9d03a936f37bdb97811a6b53bdedeb1aec364ef06bd5a6f23b9ec012c900c",
    "q_fuzzy_link" ->
      "c3f7ec1a86308bc76efe058a98f36055e7fb2cb3f395deeed975a145a346d1c8",
    "q_gif_decode" ->
      "151521fc0e0e284b9d1bed9f9654a59d36123d3571d2f0e17883e87aaaf06411",
    "q_group_quantiles" ->
      "f78ecfd8fa94151ef3a47d19680a1749191a5fe1d60787c1c65209a643b59ec2",
    "q_group_split" ->
      "a3a79138b0736ecacfb484012dd28fcc216d0e15fd9cbedb5adedebe30270c93",
    "q_hll_distinct" ->
      "155526706c051d5308301a39d5118d19ab613816afbd223ce0a75115dc43b997",
    "q_hll_incremental" ->
      "155526706c051d5308301a39d5118d19ab613816afbd223ce0a75115dc43b997",
    "q_hll_overlap" ->
      "4aef91c398536116f95b9c495e4ac215f883384203aaf7e516c5c82af7bdd80d",
    "q_hybrid_rrf" ->
      "b66f65978bfa1c59b71f08b9520334c8a94a75aa0435ee773a2b8d1c7bc6b03f",
    "q_image_ahash" ->
      "c528d2b8ce6be5943a1c091bbbaba9d5d1fdfa21c8b76bf2b7b5d1896f48fdc5",
    "q_image_ahash_bmp_x" ->
      "9c4e8b06044f9d1d4fb0a500f521d6a4184dc698447c8282bcf9c0dd776c97f0",
    "q_image_ahash_ico" ->
      "395bb039cbbe689d26bff94678a5028b6483b1af3b63af9c495222b801f9cfa5",
    "q_image_ahash_jpeg" ->
      "3bdc188765d7f53d18a0fd5ce33faf039187b9824326b8bc51f4521637a0d137",
    "q_image_ahash_pnm" ->
      "6b649d69f7c5d25d39f58e89166c7eecb5f0e38123ddece765c6aea81f3ec4dd",
    "q_image_ahash_qoi" ->
      "d627c66af6a758e001f75991b90a702a9063ed1175bf0740d0f6604105cac542",
    "q_image_ahash_tiff" ->
      "08fb76c416f8f74c2d58aca4f3972698c8f5af0e3e1d1a2728b678ca51894a8e",
    "q_image_ahash_tiff_c" ->
      "1ec9ded9b1d5dec0d11a82781e0f08d489c8340d509a62270f45e863813d1e0f",
    "q_image_ahash_tiff_j" ->
      "500efe9ae6ddde2be040f0b88e3e3d5a0f8a62dc4e282f74388657e586d9cfc6",
    "q_image_ahash_tiff_t" ->
      "053e598d16747245da1c632e30dfcec597176791238eaa8630acd67be0bd1148",
    "q_image_coverage" ->
      "a75fb4d3cae47be0705905f13dbbfb31346098c7c0101e739d57dbe028211e76",
    "q_image_dual_hash" ->
      "4f2451de8e40a3532529aeb1b3c85b2c9b6f576711a87fb9ec75c0d643980f30",
    "q_image_neardup" ->
      "41c9f9dd3c10e4188fff96ec5f107800133d4ee03f185a5631ce2af7dce4975f",
    "q_image_phash" ->
      "426b67517b5f0de30916dd8493e9a8d49f912723cdda2e319795e12650f1cabb",
    "q_join_revenue_by_segment" ->
      "fc0387fa45639f0b510e08864a47a20717764db4fcc97dbd49a14ecdb9f423d0",
    "q_jpeg_12bit" ->
      "541bc692ea2a32305d494082d6c4bfe79ee67db797d63feebef8e094813775e0",
    "q_jpeg_decode" ->
      "541bc692ea2a32305d494082d6c4bfe79ee67db797d63feebef8e094813775e0",
    "q_jpeg_progressive" ->
      "541bc692ea2a32305d494082d6c4bfe79ee67db797d63feebef8e094813775e0",
    "q_json_extract" ->
      "d396b99f83a2a36065f8e47f6484369b75628d32c0073aced33ad33f1b8f59e8",
    "q_jsonl_roundtrip" ->
      "1eeb370b8ae4fdb921f63c52899e1c4e6a577fef8ea2990a2052d4942989dca5",
    "q_kmeans_step" ->
      "9e9c8247e3f0be5c93e8c3028d87d51e60d85542f6e3981e701e9527ef6a84eb",
    "q_kmv_distinct" ->
      "6c52a609c97da821def410172b4a5a9d0fa63c41c9bc9a7c76f1bbdf5157168e",
    "q_kmv_incremental" ->
      "6c52a609c97da821def410172b4a5a9d0fa63c41c9bc9a7c76f1bbdf5157168e",
    "q_kmv_sample" ->
      "422cca35459ab301c15cf8d7e6a407b423a4a06c7557770ebfca452ec9eeed1c",
    "q_lag_lead" ->
      "ffb0def1763625d34c827615aabd3aaa1ec388526fc85f527fe739e1024716fe",
    "q_lang_id" ->
      "953e718ba6089cb3f7529a5a10517732bfab77e57c6e2ab16d781f22479e09b5",
    "q_linear_score" ->
      "483d08227613fd3eb87c834361aebe702018819113c04fc37186c374607bc46b",
    "q_linear_train" ->
      "1a5823f1364dcad74e6ee1c0b6aef73f352fc76348a47cc9b9d5e5d73543db91",
    "q_lm_kneser_ney" ->
      "7515613596a134ad4e29981ad560465b5fb092ddc9da2fe09b7afb0fc2118725",
    "q_lm_score" ->
      "83d69d8cbeed7a7277d437094b6b53958ac338af4d806cc68dc7a1e4c6ac39f1",
    "q_logistic_score" ->
      "5200ec34ed37632ba4d1acfd16fb3a1295923c833e8e217e3ad28c39b5dee0a4",
    "q_logistic_sweep" ->
      "17db3fec5a26b6f12fed67f10f8f6d4a98aca064d20b0f075347923362a1b303",
    "q_logistic_train" ->
      "54c168e8f199a01c85ea8a9fdab7e30db66d532d7f28c961348b4c6308b7f7f4",
    "q_mad" ->
      "0e2abd8fa3594c40af72ab0d86562533d436c7ed30ca12810b93ac5ab6bb74fc",
    "q_media_meta" ->
      "c1db16522bb96d20f6a53b2bdee5a66285975869cf23dc6e9f9013c462844e8d",
    "q_media_meta_apng" ->
      "f21be31a2ac6abe1ed0d22e398c387ff2e1eec801b1996f2694abdb83941a28d",
    "q_media_meta_containers" ->
      "dad46b5408a1e1cdadb3fbbee026f67c17e79ca8be18c2c0f42ffe18fadd0544",
    "q_media_meta_images" ->
      "fa46b36a7b9804160e69e5ae7d7f309560157582ba1a9dd184cc64aaf94a6e9b",
    "q_media_meta_m4a" ->
      "0609af05a24f33e4c34c3736a0b8aecf22117277c952b8380214fbe5e2ddddb4",
    "q_media_meta_tiffpages" ->
      "2be8c754ba8968564e78f5803e58d11666261e5b45ee4312994225cc7d1aef38",
    "q_media_meta_webp" ->
      "f695a0709070eb17c34970d77d778d16a0ca555c272b64757a558a7b535aad28",
    "q_median_exact" ->
      "d38446e20ec92633f195e82b4736bcc0af1acaf20c2ff2de1326045d33d1ff16",
    "q_median_window" ->
      "dc53ea1f1a80ee7a7a950274d78eda3aaa71af0481ab38724827d2ecb6982b33",
    "q_merge_upsert" ->
      "1a3b92f6cbea95093a330df8f5a09487bf4dec19fa65396ef40816828580b426",
    "q_mix_temperature" ->
      "e62e29d4f33f27d8f77ba29046565912fa3d27f814741b827f6e9f19b725129d",
    "q_multi_phrase" ->
      "0b1899ed8691fcaa99e49a135c9cbe4e294fc3302b4377dd1691b62261b94777",
    "q_multi_phrase_sweep" ->
      "f4b294b135d3c1c0477bd8f727a5ba2a520cd9b4ec8ff9090bf5bfd9f85cf406",
    "q_multimodal_meta" ->
      "a5c64e75da29d472d5509fd67539fe8c45181e96365d108f3fd15c124db9c0c0",
    "q_n1_fill_defaults" ->
      "72676ce6b799dc5aa818fdec560b2d6c5370cfe449f894f4adec3335435a041d",
    "q_n2_sentinel_date" ->
      "60c9df1e1242ebe6d6180412fa96b3b77bc3318bd0ed152fa1fc2d5d8f2989cb",
    "q_nb_score" ->
      "83d6c4ecb6a33f112d73007200c013b1cdf2ac5e41d3e32c44d486523e99246e",
    "q_nb_score_holdout" ->
      "97add3f1a4312e2a436ac6b8a236de8e86b3d98f3a6d5a702c5ad982758602b0",
    "q_nb_train" ->
      "3596179154fb4c7c4a9fbe22d2dd97534ed7002d03b74da371e35cd21172c713",
    "q_neg_sample" ->
      "c5a78550d2a028c405f9eca3f3e00c0fb9c368fc031eec9a8f7aaa82375b9296",
    "q_ngram_jaccard" ->
      "52684b9bf6c30c5bfc24aa26c179099a0c827ca09af53269a0eb9cb8eea462fd",
    "q_normalize" ->
      "f19f4136f897ac51661a2cd2b42afa15bf721d36707478db03bb4679af9e9b7a",
    "q_orc_roundtrip" ->
      "1eeb370b8ae4fdb921f63c52899e1c4e6a577fef8ea2990a2052d4942989dca5",
    "q_p1_project_rename" ->
      "aa9254cd7641bb2cb46298ea467f43d15b9a32aadbb9df2e08def4cc22528176",
    "q_p2_prune_allnull" ->
      "0e6f770b6df7a030a2c9aca6b436151384c07fc3282230698e65d64a5c4e6b39",
    "q_pack_bins" ->
      "63d409333830e7452ce31eb22635285ed499171bbf05968cd52174e3856534b9",
    "q_pack_render" ->
      "e9d8355a2b5200ef6c9607597d55d0c4f8bdbfd87bfe2d47764593354f5c8d88",
    "q_pagerank" ->
      "7211dee1ece819a8707a0b70ab5c4e847dbc7a68a41b7efdc44359832aeccfb0",
    "q_para_dedup" ->
      "de0fcd6f2d8962aca761b78980549c1f8080d0ec783cf5d1f6f8fc76cfc94850",
    "q_para_profile" ->
      "52d87ec05399bd92d311aefed0ddee0026bb6c3af4d23d2ea525877ee9915f6c",
    "q_pca_incremental" ->
      "0ac1b04ae64fbfde7e73cdab9599418d8910cfad9a7ca7cd5fa5639ce601b0c7",
    "q_pca_power" ->
      "0ac1b04ae64fbfde7e73cdab9599418d8910cfad9a7ca7cd5fa5639ce601b0c7",
    "q_pca_project" ->
      "8d763ba47d76e22773a894f18509fda9de04c5347f3711a420bef6812fda3945",
    "q_phrase_search" ->
      "2d0e52665f49de91ee12d840d2b5194cbc1908f5af1dab85ae84866cbb402da9",
    "q_pii_scrub" ->
      "9dddd8ad94844a33bb4a18d6994cbe92df277a82c6fe8f4a9ad8aff12aa1855c",
    "q_pipeline_refined" ->
      "ff21f20b586dd679f1384a8c220ab43abb198fb3b2a9a79412823b8ea1f82525",
    "q_pivot" ->
      "65b8234a942664c2adada5decc596bd03c3f44603303b33aa9bc6dd983a245dc",
    "q_pmi_bigrams" ->
      "174a7732cfee269825ec9652dde5c8358119048f9197853e9516443fc296cb6e",
    "q_png_16bit" ->
      "5b6e984caca74840f2b665547559d3f72ed0ab0be36919192f6571bf686ff03c",
    "q_png_alpha" ->
      "732fbd75194b96c4c9ec40928dbdbc00c3d911b1a9b366d9c4a414f86123ac38",
    "q_png_decode" ->
      "881a60d832d8c22a0ae039d2307305f8cea619c850c3abf757a7b72a63f5b105",
    "q_png_interlaced" ->
      "a42306611fb2d49f951a8dc820601a912d152dc1413168c559bcee2caa9adf12",
    "q_pq_encode" ->
      "0f62c7fb2dabda6ac3f6376e7f4f4568fb201f5a01d7d81bd44bd0f24da0d496",
    "q_quality_audit" ->
      "52fbe32a5d189df45a7fb836418111915053ca302d5e3cac402d2b8ae46df769",
    "q_quantile_gate" ->
      "38cbc9e49648b29d6e1f96c39cd0a581b7919b9fd1864e5db103d39645dc9da8",
    "q_quantile_sketch" ->
      "1f4ca3f6fc117bd1ae0b139d9a5717d1b8a4a6491dad01eb2df16caf59f5dc58",
    "q_quantile_sketch_seg" ->
      "1f4ca3f6fc117bd1ae0b139d9a5717d1b8a4a6491dad01eb2df16caf59f5dc58",
    "q_quantize_int8" ->
      "20311719d69d4fc4ea358ce238aff3fa0f1794079a341f76a5074da43a128d38",
    "q_range_frame" ->
      "90fbceec1e5788194953fb87aba4b67bc6e325537b32138e46236a61ea6f96f1",
    "q_range_join" ->
      "bfaddb06752a48a9c969e239acebc5df6d7bbc7bc01a2a3d9aff5e8e9321545b",
    "q_range_join_keyed" ->
      "00b2191f83ffbd34c5946fb54e1a4662b62b43e72f1e24e1dd0113edbb60b039",
    "q_rank_features" ->
      "48490d95325436b571eef8f04ff43a39e98f7773043348b2b72e1b7d6a3a7142",
    "q_repetition" ->
      "a7fd43493674416a817ad165b1988d1b0c705323bbdcb51f62a2b11dfb50d245",
    "q_repetition_gate" ->
      "18ab41d04dab5c79fa7bf9506c4b111f58eb135bab39dc3b89279629ade54b4e",
    "q_resample_daily" ->
      "6bfed77d2b23fca4d5b6d2aa2527c82c6fb94c0bb1c3f4fd65f17296bac9ff08",
    "q_retention" ->
      "25faf591dd48d76e06df181b5282b24a70a15161eaf077524b250abd05dc0803",
    "q_rolling_active" ->
      "f4c98e2d50f9aa540f423fbc5334ec077620120e71ae3479ab397f5a5966f6ed",
    "q_rollup" ->
      "fdab0cbb6820a8c1922f079160bdd1d8c5f8ed3b8677fb330e7cdceb0aecc571",
    "q_s1_scan_filter" ->
      "9ebe89a6e9022d349f11b14c556d35e8d7c1dbe66f10aab15000043c1df1b0db",
    "q_s2_scan_recursive" ->
      "8a5554f88de9329ab6964524aa1aa9f8e45d374486b076a6561b3b37f408025d",
    "q_s3_scan_catalog" ->
      "348df58a6395378cd41852bbd41b78c991c669ac80784ed68e53ef3a050dfac6",
    "q_sample_per_key" ->
      "9640add9ef8ce13db11191ccaee6e04747211e4a3c6310bed47065ed06ddfcc1",
    "q_sample_stratified" ->
      "da0426dc7aed6dcbdbfbf1024393e13c49d6ff44b857a992c2af728824e8b325",
    "q_sample_weighted" ->
      "41a21ce5277234efbd56b91e90a8b41a06fb96538a2023fc1057a4382114b168",
    "q_scd2_apply" ->
      "a4f38d30c7e2d438e7ee1fb49c0d0416c90b2b72c9848802de9d881a4bbf823b",
    "q_semantic_dedup" ->
      "33520f5af2152653126e5738a45a8c05cd226de9961b6eaa66329172148aa384",
    "q_sessionize" ->
      "b7cf57ad518a1112beaba2c8945bda4d3cf1dd33a813bcb1582b152a7dd83439",
    "q_setops" ->
      "86f25878edfc11d9e1b4467a3f3aa4f6aec4bd203b741551ce852c5e559dc820",
    "q_setsim_join" ->
      "6b1ab1d9fef96959625c2eb0c60b4fe3fa978e427341af6250b695e14505f331",
    "q_snapshot_diff" ->
      "c6db148fe9ccb40c9a2ce107d0bbf0f7502a4e1afcf2367b1b3587b87bc53d0f",
    "q_source_kl" ->
      "aea6870fe941a2e59f9ca24a3c9a22d79587ae55676848b14497742138440b64",
    "q_source_overlap" ->
      "9726bf57c92fdf5751e19499931350607a29ce275c726b35ed1a4b82168e29fd",
    "q_split_assign" ->
      "773bc763e7169a2e404d3e87f4493c2d5b7464652ffae4a922464d6d818f83c8",
    "q_split_neardup_safe" ->
      "24958fed20f18398b70db58a367d067156736711bbb4a1f6afbefd727d7ec642",
    "q_stream_attribution" ->
      "63d449c0a0e2aaf9a1e48b805dabc1ad74e550e29f523ca04812483b3599afa3",
    "q_stream_audio_dedup" ->
      "92d3ca518380a7c4033adc7a578f31df1bf86c6afc030fbc9e1d20f6a4dd0155",
    "q_stream_audio_dedup_steady" ->
      "92d3ca518380a7c4033adc7a578f31df1bf86c6afc030fbc9e1d20f6a4dd0155",
    "q_stream_bm25_ingest" ->
      "ca837ba3d51d4b608a09cae38bd35fc8c7b8d5d9b67dcce9da9a5175533ec9fd",
    "q_stream_decontam" ->
      "07b2c5cdce765aaaf252ad0d7e35cd60806037e23deb4c0437f5436050286fd8",
    "q_stream_decontam_semantic" ->
      "cb5242f84da5570d03fd14245df2a5f126d3f31202ddfdf54897f3851e52171d",
    "q_stream_dedup" ->
      "194888a02baa27904e617f11b2883fbf14daa14db7f06ab1e57580ac418e97b4",
    "q_stream_drift" ->
      "148c91d0005349fa26e4e95e1057a5cf1e408fc107163ea5f0eb62a2468bc664",
    "q_stream_dup_clusters" ->
      "e358bc09c7351599a36b672bcf341b52755c0618a0499c5226977e2ce9d5f8f9",
    "q_stream_embed_clusters" ->
      "0cf07dd67ed73abb1198069eae700f26e6dd254a128c56cdd06b527bcc5f9063",
    "q_stream_embed_clusters_steady" ->
      "0cf07dd67ed73abb1198069eae700f26e6dd254a128c56cdd06b527bcc5f9063",
    "q_stream_image_dedup" ->
      "78bec804933f6d262467a92b705a112cc547e3946fb55ee6e0055f79e0ed2ee2",
    "q_stream_image_dedup_steady" ->
      "78bec804933f6d262467a92b705a112cc547e3946fb55ee6e0055f79e0ed2ee2",
    "q_stream_kmv" ->
      "6c52a609c97da821def410172b4a5a9d0fa63c41c9bc9a7c76f1bbdf5157168e",
    "q_stream_media_meta" ->
      "ea4122cbc491772db2fcd7d56b886ff7d7489002be76246cf8e17636e20044f2",
    "q_stream_neardup" ->
      "cec3443b00819c24905fe6dc454a32e05af466ee626672cfeba39e8594cf6f0c",
    "q_stream_neardup_steady" ->
      "cec3443b00819c24905fe6dc454a32e05af466ee626672cfeba39e8594cf6f0c",
    "q_stream_pca" ->
      "0ac1b04ae64fbfde7e73cdab9599418d8910cfad9a7ca7cd5fa5639ce601b0c7",
    "q_stream_quantile" ->
      "1f4ca3f6fc117bd1ae0b139d9a5717d1b8a4a6491dad01eb2df16caf59f5dc58",
    "q_stream_sessionize" ->
      "69782f79ecf46222dcb068c914e91cc7d88232402c3abe68a469462bec82f4c8",
    "q_stream_sessionize_tws" ->
      "69782f79ecf46222dcb068c914e91cc7d88232402c3abe68a469462bec82f4c8",
    "q_stream_window_stats" ->
      "b32db0b73408c3acd7242dd6885e5c306dd2dbee503f2f6b16f5940b81cb5e39",
    "q_substr_spans" ->
      "72ec701e0078a2734f24d41a9198fa82bd397f88ba3faef73bac3237ae08e831",
    "q_text_normalize" ->
      "d6798dfdc79040f99b9a1d2a22157f4d2913dfa5278d965d89cff71540c20138",
    "q_text_quality" ->
      "6330681866640e813906e61e6b976653dbf5aec72f60d1a066418eb3180098dd",
    "q_text_stats" ->
      "868668042befe76b80869274064383e7134626c55c26179d55b0837318f78063",
    "q_tfidf_topterms" ->
      "6111f079bfe57ce1b6b0ee4ece1678afe69e067a79930fb6c35bc166e5bbfb72",
    "q_token_budget" ->
      "65e9f80bbdad7b44ed8dce8f229fcf984fd16cd7827b4da3ec26362fb7012d97",
    "q_token_entropy" ->
      "f5f0f60fae2e7b8a299745c4ab20cc0db1ea11895beb47e842470f376ab96ba3",
    "q_token_histogram" ->
      "0e4918b5d00571e9ae588163883dab71be6d73c5e2692047df0d6aa8e3d81935",
    "q_topk_orders" ->
      "32a2e32b180f33e0093c02f6e9d0e90304e51a99d45b47d6aa925a66efa25fee",
    "q_topk_sketch" ->
      "f5448812cce79d9bd8a3855bc57eebad703e52d8b53f5794fa7da8a8241ff689",
    "q_topk_sketch_keyed" ->
      "ce0a9b7b4bd9640a2c12b36b3d82d3911ebf37b934038e3211787d5f1a313dff",
    "q_trainset_build" ->
      "f6d4fde7d6c43a4f9ddb82eb0939cd4cc2cafe9ffb391b91e2c981bc0f0ab704",
    "q_triangles" ->
      "97645e397a0dabbc82edce1266e2ffefc80bd1d4b6bec2d649469d30a55b1dde",
    "q_unigram_em" ->
      "955a09e43e8323bc4a08abb3abc8f314e8d8f9b9dd4dfaeac10fff8b7eb81051",
    "q_unigram_encode" ->
      "ad4af63c3ac20c8de9de398a79bd7d99607873af0937ced511ef44cfd18d69c6",
    "q_unigram_encode_em" ->
      "f1bf6cafc415d80a8904550f4e54b7d45fa237fa7fd9006ca5149f2e0193b8f3",
    "q_unigram_vocab" ->
      "d1c0e9525115c6cc58d14c021e3d0d6db386a28d18fa1b8c93cb482ad531553b",
    "q_url_canonical" ->
      "28fdb273490b81e8f9d8325a49eb60f5be8efcd2a57c36c6836b5d01095563b9",
    "q_url_dedup" ->
      "9fea59f93db7f271670558a020d1e938ea52b5eb03c44854cacd1c007403e0e5",
    "q_video_apng" ->
      "4c1adb0f086ef345a8a47afca315660e09d02c673c55eed15b66e2d4943f19c7",
    "q_video_coverage" ->
      "5d10ee9e87e2efab5cfa2c4e4c56e735194414c7446990f51b5332ad56639e68",
    "q_video_dib" ->
      "484bd28fd512dc327e4b6554b83008286f1d83d7e8b90a439721ec0faaf7f37e",
    "q_video_hashes" ->
      "0a0805a35e60f470feec57f9b081de611d083ee883fdd9603bf3e404c445c06b",
    "q_video_mixed_neardup" ->
      "db45c76a5438844abb0387544f0d6be739523654a5151e206e5ec9a7dbe84d94",
    "q_video_mjpeg" ->
      "24deee03b1e4f82db8997e607236d63a3608be18a68268c21d880dfd3730430b",
    "q_video_mjpeg_neardup" ->
      "db45c76a5438844abb0387544f0d6be739523654a5151e206e5ec9a7dbe84d94",
    "q_video_mp4" ->
      "24deee03b1e4f82db8997e607236d63a3608be18a68268c21d880dfd3730430b",
    "q_video_neardup" ->
      "6ab23110312b9c6d378472770aa42520bb9d89680eb2220737b26f839b2f9d45",
    "q_video_neardup_phash" ->
      "1dcef332e95f90651c6374f8ddc2358c66c1376ffa4d089d663560ace50563f2",
    "q_video_phash" ->
      "3141b70b3f55e301b1925214b63f5cbe6a4194cf89f7289e2c85fda90f1d7150",
    "q_vocabulary" ->
      "e7c3643a026b245b1878aacd00df2b5cafe134a67ad7c2553c1f45554ab421a3",
    "q_w1_rolling_avg" ->
      "eb418b3ad156869d2fbeab0faa3a2fe61f0410591e5bbaf1344d6a0ec34be881",
    "q_w2_group_total_window" ->
      "4c309a9b72cadde117e314c875116b118a7407d980433c24066b4a63da5c06f7",
    "q_w3_rank_rownumber" ->
      "46c110c431222d624919076be7b5554a89933b5571f571ace5cd1684a63a0aaf",
    "q_w4_initial_date" ->
      "b0c8b49072ee0767061187f9c4c6cde8d2695b30be85f1bdac600b1737f0e2a7",
    "q_w5_rolling_stats" ->
      "1406f6d29072694dff9aa0731ff825e9b466c96bcbcdb62d5971ddb9699633f4",
    "q_wav_decode" ->
      "f7eee4e4e5062f3e3e42dcded438825fdd243899bd93e89eecec257043402c29",
    "q_wav_frames" ->
      "615c855b372fbdedc9b744a436dbfeb09385be3d4c849f701449057664b6fe7f",
    "q_winnow" ->
      "44d9e9f4696428eb90621c506d3656ee03e4635c71f1c2ac163875857f794095",
    "q_winnow_fast" ->
      "ced0ebf7b84ebef52dd132101b23d6ea0fc08a7aaf5d394e8ce468a6132046c3",
    "q_winsorize" ->
      "45563e6093811666e83a320294bdf4e0da46da135c73530bf592d3f119d5556b",
    "q_wordpiece_encode" ->
      "e915456ceb3bd855d2d9a77a69c863024e06aca6d10dc842d6308bf2e05328ad",
    "q_wordpiece_vocab" ->
      "55a56bc297ef1eeab0e4dc2fdae4d96eeb03e3b32a43b2fc7013eab872111750",
    "q_zone_prune" ->
      "1960ba41373123b02ee778a6b7cd0f0a3f69456a93820ba4275f5ed0785939e1",
    "q_zorder" ->
      "8c2c02af872ba1f3d84a9a9d03713c1628fee1780332c2a90403904d6efd3c9f")

  test("the registry declares exactly the pinned query names, each with an oracle") {
    assert(SparkEntry.queries.keySet === expected.keySet)
    assert(SparkEntry.oracleSql.keySet === expected.keySet)
  }

  test("every oracle emits exactly its recorded SQL bytes") {
    val got = SparkEntry.oracleSql.map { case (name, sql) => name -> sha256(sql) }
    val changed = got.filter { case (name, d) => expected.get(name).exists(_ != d) }
      .keys.toSeq.sorted
    assert(changed === Seq.empty)
  }
}
